"""Write path: DataFrame → parquet data files → manifests → snapshot commit.

The PySpark re-expression of the reference's INSERT/CTAS sink
(reference: src/execution/operator/iceberg_insert.cpp): the transform
projection (GetTransformExpression, :403-475) becomes `withColumn` of
transform Columns, the sort order (:497-511) becomes `sortWithinPartitions`,
the parquet copy becomes `df.write.partitionBy(...)`, per-file stats
(AddFiles, :150-237) are collected from parquet footers — distributed via
``fanout.map_items`` when the file count is large, so the driver never
holds data-sized state — and Finalize (:286-329) becomes manifest +
manifest-list + metadata-JSON commit (COPY TO FORMAT ICEBERG analogue,
src/function/copy/iceberg_copy_function.cpp:11-31).

Scale notes (100 TB design):
- data movement is one Spark write job; `repartition(partition_cols)`
  co-locates rows per partition so each task writes few files (small-file
  control); AQE coalesces tiny partitions.
- footer-stat collection reads only parquet footers: O(#files) metadata work,
  distributed over executors above ``fanout.DRIVER_MAX`` files.
- manifests are written per-snapshot; at many-snapshot scale, rewrite_data_
  files (maintenance.py) bin-packs.
"""

from __future__ import annotations

import datetime as _dt
import os
import re
import urllib.parse
import uuid as _uuid
from decimal import Decimal
from typing import Any, Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import io as fio
from ..catalog.commit import FileTable, committer
from ..metadata import manifest as mf
from ..metadata import types as ice_types
from ..metadata.table_metadata import (
    PartitionField,
    PartitionSpec,
    Snapshot,
    SortField,
    SortOrder,
    TableMetadata,
    current_version_number,
    load_table_metadata,
    write_table_metadata,
)
from ..plans import transforms as tr

_TRANSFORM_CALL_RE = re.compile(r"^\s*(\w+)\s*\(\s*(.*?)\s*\)\s*$")


# ---------------------------------------------------------------------------
# partition spec / sort order construction from user input
# ---------------------------------------------------------------------------

def parse_partition_by(partition_by: Iterable[str] | None, schema_json: dict,
                       start_field_id: int = 1000) -> PartitionSpec:
    """['l_shipmode', 'bucket(4, l_orderkey)', 'month(d)'] → PartitionSpec."""
    fields: list[PartitionField] = []
    fid = start_field_id
    for item in partition_by or []:
        m = _TRANSFORM_CALL_RE.match(item)
        if m:
            fn = m.group(1).lower()
            args = [a.strip() for a in m.group(2).split(",")]
            if fn == "bucket":
                n, col = int(args[0]), args[1]
                transform, suffix = f"bucket[{n}]", f"_bucket"
            elif fn == "truncate":
                w, col = int(args[0]), args[1]
                transform, suffix = f"truncate[{w}]", f"_trunc"
            elif fn in ("year", "month", "day", "hour"):
                col = args[0]
                transform, suffix = fn, f"_{fn}"
            elif fn == "void":
                col = args[0]
                transform, suffix = "void", "_null"
            else:
                raise ValueError(f"unknown partition transform {fn}")
        else:
            col, transform, suffix = item.strip(), "identity", ""
        src = _resolve_schema_field(schema_json, col)
        if src is None:
            raise ValueError(f"partition column {col!r} not in schema")
        # nested sources (struct members — reference:
        # partitioning/hour/hour_struct_timestamp.test) keep the dotted
        # path flattened with underscores so the name is a valid
        # directory/identifier
        name = col.replace(".", "_") + suffix
        fields.append(PartitionField(source_id=src["id"], field_id=fid, name=name,
                                     transform=transform))
        fid += 1
    return PartitionSpec(spec_id=0, fields=fields)


def _resolve_schema_field(schema_json: dict, dotted: str) -> dict | None:
    """Top-level or dotted struct-member field lookup."""
    fields = schema_json["fields"]
    parts = dotted.split(".")
    for p in parts[:-1]:
        parent = next((f for f in fields if f["name"] == p), None)
        if parent is None or not (isinstance(parent["type"], dict)
                                  and parent["type"].get("type") == "struct"):
            return None
        fields = parent["type"]["fields"]
    return next((f for f in fields if f["name"] == parts[-1]), None)


def _parse_transform_expr(item: str) -> tuple[str, str]:
    """'bucket(4, k)' / 'day(ts)' / 'col' → (source column, transform)."""
    m = _TRANSFORM_CALL_RE.match(item)
    if not m:
        return item.strip(), "identity"
    fn = m.group(1).lower()
    args = [a.strip() for a in m.group(2).split(",")]
    if fn == "bucket":
        return args[1], f"bucket[{int(args[0])}]"
    if fn == "truncate":
        return args[1], f"truncate[{int(args[0])}]"
    if fn in ("year", "month", "day", "hour"):
        return args[0], fn
    if fn == "void":
        return args[0], "void"
    raise ValueError(f"unknown transform {fn}")


def parse_sort_by(sort_by, schema_json: dict) -> SortOrder:
    """Sort-order parser. Entries are column names or transform
    expressions ('day(ts)', 'bucket(4, k)', 'truncate(3, s)' — the
    reference's sorting/ suite sorts by every partition transform), as a
    bare string or ('expr', 'asc'|'desc'[, 'nulls-first'|'nulls-last'])
    tuples. Defaults follow the Iceberg convention the reference writes:
    asc → nulls-first, desc → nulls-last."""
    fields = []
    for item in sort_by or []:
        null_order = None
        if isinstance(item, str):
            expr, direction = item, "asc"
        else:
            expr, direction = item[0], item[1].lower()
            if len(item) > 2 and item[2]:
                null_order = item[2].lower().replace(" ", "-")
                if null_order not in ("nulls-first", "nulls-last"):
                    raise ValueError(f"bad null order {item[2]!r}")
        col, transform = _parse_transform_expr(expr)
        src = _resolve_schema_field(schema_json, col)
        if src is None:
            raise ValueError(f"sort column {col!r} not in schema")
        if null_order is None:
            null_order = "nulls-first" if direction == "asc" else "nulls-last"
        fields.append(SortField(source_id=src["id"], transform=transform,
                                direction=direction, null_order=null_order))
    return SortOrder(order_id=1 if fields else 0, fields=fields)


# ---------------------------------------------------------------------------
# table creation
# ---------------------------------------------------------------------------

def create_table(
    location: str,
    spark_schema: T.StructType,
    *,
    partition_by: Iterable[str] | None = None,
    sort_by=None,
    properties: dict[str, str] | None = None,
    format_version: int = 2,
) -> TableMetadata:
    """CREATE TABLE analogue for filesystem tables
    (reference: physical_iceberg_create_table.cpp)."""
    schema_json, last_col = ice_types.struct_to_schema_json(spark_schema, 0)
    spec = parse_partition_by(partition_by, schema_json)
    order = parse_sort_by(sort_by, schema_json)
    tm = TableMetadata(
        {
            "format-version": format_version,
            "table-uuid": str(_uuid.uuid4()),
            "location": location,
            "last-column-id": last_col,
            "schemas": [schema_json],
            "current-schema-id": 0,
            "partition-specs": [spec.to_json()],
            "default-spec-id": 0,
            "last-partition-id": max([f.field_id for f in spec.fields], default=999),
            "sort-orders": [order.to_json()],
            "default-sort-order-id": order.order_id,
            "properties": dict(properties or {}),
        }
    )
    write_table_metadata(tm, location)
    return tm


# ---------------------------------------------------------------------------
# parquet footer stats → DataFile entries
# ---------------------------------------------------------------------------

def _footer_stats_one(path: str) -> dict:
    """Read one parquet footer: row count, size, per-field-id stats — via
    the FileIO (a footer read is one ranged GET on object stores)."""
    import pyarrow.parquet as pq

    from ..io import get_io
    from ..io.arrow_data import _open_arrow_input

    fs_io = get_io(path)
    pf = pq.ParquetFile(_open_arrow_input(fs_io, path))
    meta = pf.metadata
    arrow_schema = pf.schema_arrow
    fid_by_col: dict[str, int] = {}
    for field in arrow_schema:
        fid = None
        if field.metadata and b"PARQUET:field_id" in field.metadata:
            fid = int(field.metadata[b"PARQUET:field_id"])
        if fid is not None:
            fid_by_col[field.name] = fid

    value_counts: dict[int, int] = {}
    null_counts: dict[int, int] = {}
    col_sizes: dict[int, int] = {}
    mins: dict[int, Any] = {}
    maxs: dict[int, Any] = {}
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            top = c.path_in_schema.split(".")[0]
            fid = fid_by_col.get(top)
            if fid is None or "." in c.path_in_schema:
                continue
            value_counts[fid] = value_counts.get(fid, 0) + c.num_values
            col_sizes[fid] = col_sizes.get(fid, 0) + c.total_compressed_size
            st = c.statistics
            if st is None:
                continue
            if st.has_null_count:
                null_counts[fid] = null_counts.get(fid, 0) + st.null_count
            if st.has_min_max:
                mn, mx = st.min, st.max
                if fid not in mins or _stat_lt(mn, mins[fid]):
                    mins[fid] = mn
                if fid not in maxs or _stat_lt(maxs[fid], mx):
                    maxs[fid] = mx
    return {
        "path": path,
        "record_count": meta.num_rows,
        "file_size": fs_io.size(path),
        "value_counts": value_counts,
        "null_counts": null_counts,
        "col_sizes": col_sizes,
        "mins": mins,
        "maxs": maxs,
    }


def _stat_lt(a: Any, b: Any) -> bool:
    try:
        return a < b
    except TypeError:
        return False


def _collect_stats(spark: SparkSession, paths: list[str]) -> list[dict]:
    from .. import fanout

    if not paths:
        return []
    # footer reads are IO + C-side parquet parsing (GIL released): a
    # driver thread pool below the fan-out threshold, executors above it
    out = list(fanout.map_items(
        spark, paths, lambda ps: map(_footer_stats_safe, ps),
        io_path=paths[0], threads=True))
    failed = [s["path"] for s in out if s.get("record_count") is None]
    if failed:
        # pyarrow can't parse footers holding logical types it predates
        # (Spark's VariantType thrift tag): recover record counts with one
        # Spark job over just those files; column stats stay absent
        # (optional in the spec — pruning is conservatively disabled)
        from pyspark.sql import functions as F

        counts = {
            r[0]: r[1]
            for r in spark.read.parquet(*failed)
            .groupBy(F.col("_metadata.file_path")).count().collect()
        }
        from ..io import normalize_path

        def _norm_uri(k: str) -> str:
            # Spark's _metadata.file_path is a percent-encoded URI (a space
            # is '%20', ':' is '%3A'); manifest paths are plain. Decode
            # before matching — scan.py's _norm_uri_path_sql twin — or paths
            # with encodable characters miss and silently corrupt
            # record_count-derived answers (metadata count(*)).
            return urllib.parse.unquote(normalize_path(k))

        by_norm = {_norm_uri(k): v for k, v in counts.items()}
        by_norm.update({k: v for k, v in counts.items()})
        for s in out:
            if s.get("record_count") is None:
                n = by_norm.get(normalize_path(s["path"]),
                                by_norm.get(s["path"]))
                if n is None:
                    # absent from the grouped counts: either a zero-row file
                    # (groupBy emits no group for it) or a path-matching
                    # miss. Confirm with a targeted read — a wrong
                    # record_count poisons manifests (metadata-only count(*)
                    # sums these), so never default to 0 on a real miss.
                    n = spark.read.parquet(s["path"]).count()
                    if n != 0:
                        raise ValueError(
                            f"footer stats unavailable and Spark row-count "
                            f"recovery did not cover {s['path']!r} "
                            f"(file has {n} rows)")
                s["record_count"] = n
    return out


def _footer_stats_safe(path: str) -> dict:
    try:
        return _footer_stats_one(path)
    except Exception:
        from ..io import get_io

        return {
            "path": path, "record_count": None,
            "file_size": get_io(path).size(path),
            "value_counts": {}, "null_counts": {}, "col_sizes": {},
            "mins": {}, "maxs": {},
        }


def _partition_values_from_path(path: str, data_root: str, spec: PartitionSpec,
                                tm: TableMetadata) -> dict[str, Any]:
    """Recover partition values from hive-style dirs written by partitionBy.
    Plain prefix-strip, not os.path.relpath — normpath would mangle the
    ``scheme://`` of object-store paths."""
    parent = os.path.dirname(path)
    root = data_root.rstrip("/")
    rel = parent[len(root):].lstrip("/") if parent.startswith(root) else parent
    values: dict[str, Any] = {}
    raw: dict[str, str] = {}
    for comp in rel.split("/"):
        if "=" in comp:
            k, v = comp.split("=", 1)
            raw[k] = urllib.parse.unquote(v)
    for pf in spec.fields:
        if pf.name not in raw:
            continue
        sval = raw[pf.name]
        if sval == "__HIVE_DEFAULT_PARTITION__":
            values[pf.name] = None
            continue
        src = tm.field_by_id(pf.source_id)
        if src is None:
            hit = tm.field_path_by_id(pf.source_id)  # nested source
            src = hit[1] if hit else None
        rt = tr.transform_result_type(pf.transform, src["type"] if src else "string")
        values[pf.name] = _parse_partition_string(sval, rt)
    return values


def _parse_partition_string(s: str, result_type: Any) -> Any:
    if not isinstance(result_type, str):
        return s
    name = ice_types.primitive_name(result_type)
    try:
        if name in ("int", "long"):
            return int(s)
        if name in ("float", "double"):
            return float(s)
        if name == "decimal":
            return Decimal(s)
        if name == "date":
            return _dt.date.fromisoformat(s)
        if name == "time":
            t = _dt.time.fromisoformat(s)
            return t if ice_types.time_type_available() \
                else ice_types.time_to_micros(t)
        if name in ("timestamp", "timestamptz"):
            return _dt.datetime.fromisoformat(s.replace(" ", "T"))
        if name == "boolean":
            return s.lower() == "true"
    except (ValueError, ArithmeticError):
        return s
    return s


def _parse_metrics_mode(raw: str) -> tuple[str, int]:
    """'none' | 'counts' | 'full' | 'truncate(N)' → (mode, n) (reference:
    iceberg_metrics.cpp ParseMetricsMode; invalid modes fail the write)."""
    v = str(raw).strip().lower()
    if v in ("none", "counts", "full"):
        return v, 0
    if v.startswith("truncate(") and v.endswith(")"):
        try:
            n = int(v[9:-1])
        except ValueError:
            n = 0
        if n > 0:
            return "truncate", n
        raise ValueError(
            f"Invalid metrics mode {raw!r}: truncate length must be a "
            "positive integer")
    raise ValueError(
        f"Invalid write.metadata.metrics mode {raw!r}: expected 'none', "
        "'counts', 'truncate(<n>)', or 'full'")


def _metrics_modes(tm: TableMetadata, schema_json: dict) -> dict[int, tuple[str, int]]:
    """field-id → metrics mode, from write.metadata.metrics.default (spec
    default truncate(16)) overridden per column by
    write.metadata.metrics.column.<name>."""
    default = _parse_metrics_mode(
        tm.properties.get("write.metadata.metrics.default", "truncate(16)"))
    out = {}
    for f in schema_json["fields"]:
        raw = tm.properties.get(f"write.metadata.metrics.column.{f['name']}")
        out[f["id"]] = _parse_metrics_mode(raw) if raw is not None else default
    return out


def _truncate_bound_lower(v, n: int):
    """First n code points (string) / n bytes (binary) — a prefix is always
    a valid lower bound."""
    if isinstance(v, str) and len(v) > n:
        return v[:n]
    if isinstance(v, (bytes, bytearray)) and len(v) > n:
        return bytes(v[:n])
    return v


def _truncate_bound_upper(v, n: int):
    """Truncate then round UP so the result stays >= every value
    (reference: iceberg_value.cpp TruncateAndIncrementString): increment
    the last code point (skipping the UTF-16 surrogate range), carrying
    left when a code point is at the maximum; bytes increment the last
    byte with carry. None = no representable bound (omit; optional per
    spec)."""
    if isinstance(v, str):
        if len(v) <= n:
            return v
        s = v[:n]
        while s:
            cp = ord(s[-1]) + 1
            if 0xD800 <= cp <= 0xDFFF:
                cp = 0xE000
            if cp <= 0x10FFFF:
                return s[:-1] + chr(cp)
            s = s[:-1]  # last code point was U+10FFFF: carry left
        return None
    if isinstance(v, (bytes, bytearray)):
        if len(v) <= n:
            return bytes(v)
        b = bytearray(v[:n])
        while b:
            if b[-1] < 0xFF:
                b[-1] += 1
                return bytes(b)
            b.pop()  # 0xFF: carry left
        return None
    return v


def _build_data_files(
    stats: list[dict], tm: TableMetadata, spec: PartitionSpec,
    data_root: str, *, file_format: str = "PARQUET"
) -> list[mf.DataFile]:
    schema_json = tm.schema_json()
    type_by_id = {f["id"]: f["type"] for f in schema_json["fields"]}
    modes = _metrics_modes(tm, schema_json)
    out = []
    # 0-row part files (empty input partitions) carry no stats and no data —
    # committing them only bloats manifests
    stats = [st for st in stats if st["record_count"]]

    def _counts_ok(fid: int) -> bool:
        return modes.get(fid, ("truncate", 16))[0] != "none"

    def _bound(fid: int, v, upper: bool):
        mode, n = modes.get(fid, ("truncate", 16))
        if mode in ("none", "counts"):
            return None
        t = type_by_id.get(fid)
        if mode == "truncate" and isinstance(t, str) \
                and ice_types.primitive_name(t) in ("string", "binary", "fixed"):
            if ice_types.primitive_name(t) == "string" \
                    and isinstance(v, (bytes, bytearray)):
                # decode BEFORE truncating: a byte-prefix can split a UTF-8
                # code point and decode to a value that no longer bounds
                try:
                    v = bytes(v).decode("utf-8")
                except UnicodeDecodeError:
                    return None
            v = (_truncate_bound_upper(v, n) if upper
                 else _truncate_bound_lower(v, n))
            if v is None:
                return None
        return _encode_stat_bound(t, v)

    # identity-partitioned source columns live in directory names, not in
    # the data files, so footer stats can't see them — record
    # lower = upper = the file's partition value like the Java writer
    # does, so column_stats and bounds pruning treat identity columns
    # the same whether WE or another engine wrote the table
    ident_fields = [
        (pf, tm.field_by_id(pf.source_id))
        for pf in spec.fields if pf.transform == "identity"
    ]
    for st in stats:
        lower = {}
        upper = {}
        part_vals = _partition_values_from_path(
            st["path"], data_root, spec, tm)
        for fid, v in st["mins"].items():
            b = _bound(fid, v, upper=False)
            if b is not None:
                lower[fid] = b
        for fid, v in st["maxs"].items():
            b = _bound(fid, v, upper=True)
            if b is not None:
                upper[fid] = b
        for pf, src in ident_fields:
            if src is None or src["id"] in lower or src["id"] in upper:
                continue
            pv = part_vals.get(pf.name)
            if pv is None:
                continue
            b = ice_types.encode_bound(src["type"], pv)
            if b is not None:
                lower[src["id"]] = b
                upper[src["id"]] = b
        out.append(
            mf.DataFile(
                content=mf.CONTENT_DATA,
                file_path=st["path"],
                file_format=file_format,
                partition=part_vals,
                record_count=st["record_count"],
                file_size_in_bytes=st["file_size"],
                column_sizes={k: v for k, v in (st["col_sizes"] or {}).items()
                              if _counts_ok(k)} or None,
                value_counts={k: st["record_count"]
                              for k in st["value_counts"]
                              if _counts_ok(k)} or None,
                null_value_counts={k: v for k, v in (st["null_counts"] or {}).items()
                                   if _counts_ok(k)} or None,
                nan_value_counts={k: v for k, v in (st.get("nan_counts") or {}).items()
                                  if _counts_ok(k)} or None,
                lower_bounds=lower or None,
                upper_bounds=upper or None,
            )
        )
    return out


def _encode_stat_bound(t: Any, v: Any) -> bytes | None:
    """Parquet footer stat value → Iceberg bound bytes. Strings longer than
    64 chars are dropped (truncated parquet stats can't be trusted as exact
    Iceberg bounds without increment logic)."""
    if t is None or v is None:
        return None
    try:
        if isinstance(t, str) and ice_types.primitive_name(t) == "geometry":
            # geometry bounds must be bounding-box corners (v3 Appendix D),
            # not raw WKB byte min/max from the parquet footer — writing the
            # latter would poison readers that decode the corner doubles.
            # We don't compute bboxes from WKB, so write no bounds (readers
            # stay conservative: geometry never prunes).
            return None
        if isinstance(v, str) and len(v) > 64:
            return None
        if isinstance(v, bytes) and ice_types.primitive_name(t) == "string":
            v = v.decode("utf-8", errors="replace")
        return ice_types.encode_bound(t, v)
    except (ValueError, ArithmeticError, OverflowError):
        return None


# ---------------------------------------------------------------------------
# the write job
# ---------------------------------------------------------------------------

def _with_field_id_metadata(df: DataFrame, schema_json: dict) -> DataFrame:
    """Alias every column with parquet.field.id metadata so Spark's parquet
    writer emits field-ids (needs spark.sql.parquet.fieldId.write.enabled)."""
    by_name = {f["name"]: f for f in schema_json["fields"]}
    cols = []
    for f in df.schema.fields:
        ice = by_name.get(f.name)
        if ice is None:
            cols.append(ice_types.quoted_col(f.name))
        else:
            md = dict(f.metadata or {})
            md[ice_types.FIELD_ID_KEY] = ice["id"]
            cols.append(ice_types.quoted_col(f.name).alias(f.name, metadata=md))
    return df.select(*cols)


def _relax_nullable(dt: T.DataType) -> T.DataType:
    """Every nested field nullable, metadata (field ids) preserved:
    Catalyst cannot cast a nullable nested field to a REQUIRED one (a
    struct member goes nullable through e.g. the MERGE rewrite's outer
    join), and parquet-optional is a legal physical encoding of an
    Iceberg required column — required-ness is enforced from the table
    schema, not the file schema."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _relax_nullable(f.dataType), True,
                          f.metadata)
            for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_relax_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_relax_nullable(dt.keyType),
                         _relax_nullable(dt.valueType), True)
    return dt


def _cast_to_table_schema(df: DataFrame, schema_json: dict) -> DataFrame:
    """Align df columns (by name) to the table schema's Spark types.

    The cast target is nullability-RELAXED but metadata-preserving: the
    cast is also what stamps nested parquet.field.id metadata onto struct
    members (skipping it writes files whose members carry no ids and read
    back as NULL under BY_FIELD_ID resolution)."""
    by_name = {f["name"]: f for f in schema_json["fields"]}
    cols = []
    for name, ice in by_name.items():
        if name in df.columns:
            target = _relax_nullable(ice_types.iceberg_to_spark(ice["type"]))
            cur = df.schema[name].dataType
            c = ice_types.quoted_col(name)
            if cur != target and not isinstance(target, T.NullType):
                if (ice_types.time_type_available()
                        and isinstance(target, T.TimeType)
                        and isinstance(cur, (T.LongType, T.IntegerType))):
                    # legacy tagged-Long µs input for an iceberg `time`
                    # column (the pre-4.1 mapping): Spark has no
                    # BIGINT→TIME cast, so build the time-of-day from the
                    # µs value explicitly
                    c = F.expr(
                        "make_time(CAST({0} DIV 3600000000 AS INT), "
                        "CAST({0} % 3600000000 DIV 60000000 AS INT), "
                        "CAST({0} % 60000000 AS DECIMAL(16,6)) / 1000000)"
                        .format("`" + name.replace("`", "``") + "`"))
                else:
                    c = c.cast(target)
            cols.append(c.alias(name))
        else:
            cols.append(F.lit(None).cast(ice_types.iceberg_to_spark(ice["type"])).alias(name))
    return df.select(*cols)


def write_data_files(
    spark: SparkSession,
    df: DataFrame,
    tm: TableMetadata,
    *,
    target_file_rows: int | None = None,
    preserve_partitioning: bool = False,
) -> tuple[list[mf.DataFile], str]:
    """Execute the distributed parquet write; returns (DataFiles, data_root).

    ``preserve_partitioning`` (r14): skip the partition-column
    repartition — for callers that pre-clustered the frame (z-order
    rewrites of ONE partition group, whose rows all share a partition
    tuple) the shuffle would undo the clustering while routing every
    row to the same place anyway."""
    spec = tm.default_spec()
    order = tm.default_sort_order()
    schema_json = tm.schema_json()
    by_id = {f["id"]: f for f in schema_json["fields"]}

    df = _cast_to_table_schema(df, schema_json)

    part_cols: list[str] = []
    identity_cols: list[str] = []
    for pf in spec.fields:
        if pf.transform == "void":
            continue
        src = by_id.get(pf.source_id)
        if src is not None:
            src_path, src_type = src["name"], src["type"]
        else:
            hit = tm.field_path_by_id(pf.source_id)
            if hit is None:
                raise ValueError(
                    f"partition source id {pf.source_id} not in schema")
            src_path, src_type = hit[0], hit[1]["type"]
        if pf.transform == "identity" and src is not None:
            # partition directly on the raw top-level column
            # (CanWriteIdentityPartitionsDirectly, iceberg_insert.cpp:136-148)
            part_cols.append(src_path)
            identity_cols.append(src_path)
        else:
            # transformed — or a nested struct member (reference:
            # partitioning/hour/hour_struct_timestamp.test): materialize a
            # synthetic top-level column for the directory layout; Spark's
            # partitionBy drops it from file contents while the nested
            # field itself stays inside the struct
            col = (tr.transform_column(pf.transform, F.col(src_path), src_type)
                   if pf.transform != "identity" else F.col(src_path))
            df = df.withColumn(pf.name, col)
            part_cols.append(pf.name)

    if part_cols and not preserve_partitioning:
        df = df.repartition(*[F.col(c) for c in part_cols])
    if order.fields:
        sort_cols = []
        for sf in order.fields:
            src = by_id.get(sf.source_id)
            if src is not None:
                src_path, src_type = src["name"], src["type"]
            else:
                hit = tm.field_path_by_id(sf.source_id)
                if hit is None:
                    continue
                # nested sort source (sorting/identity/identity_struct_bool)
                src_path, src_type = hit[0], hit[1]["type"]
            c = F.col(src_path)
            if sf.transform not in ("identity", "void"):
                # transform sort keys (reference sorting/day|bucket|truncate
                # suites): order by the TRANSFORMED value, ties keep the
                # following sort fields' order — sorting the raw column
                # would over-order within a day/bucket and diverge from
                # the reference's written file contents
                c = tr.transform_column(sf.transform, c, src_type)
            if sf.direction == "desc":
                c = (c.desc_nulls_first()
                     if sf.null_order == "nulls-first" else c.desc_nulls_last())
            else:
                c = (c.asc_nulls_first()
                     if sf.null_order == "nulls-first" else c.asc_nulls_last())
            sort_cols.append(c)
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)

    df = _with_field_id_metadata(df, schema_json)

    write_uuid = str(_uuid.uuid4())[:8]
    data_root = fio.join(tm.data_path(), write_uuid)
    # data file format from the spec's `write.format.default` property.
    # The reference writes (and reads) parquet only
    # (iceberg_multi_file_list.cpp:528-529); we additionally support ORC
    # through Spark's native ORC source.
    fmt = (tm.properties.get("write.format.default") or "parquet").lower()
    if fmt == "parquet":
        # parquet write properties (reference maps iceberg write props →
        # parquet options, iceberg_insert.cpp:596-648)
        codec = tm.properties.get("write.parquet.compression-codec", "zstd")
        paths = write_parquet_dataset(
            spark, df, data_root, compression=codec, partition_cols=part_cols,
            max_records_per_file=_max_records_per_file(tm, schema_json),
            parquet_options=_parquet_write_options(tm))
        stats = _collect_stats(spark, paths)
    elif fmt == "orc":
        codec = tm.properties.get("write.orc.compression-codec", "zlib")
        paths = write_orc_dataset(
            spark, df, data_root, compression=_orc_codec(codec),
            partition_cols=part_cols,
            max_records_per_file=_max_records_per_file(tm, schema_json))
        stats = _collect_stats_orc(spark, paths, schema_json, spec)
    elif fmt == "avro":
        # r13: the third format's WRITE side (pure-Python Iceberg-Avro
        # codec on the executors, in-pass stats). r14: transform
        # partitions ride the SAME synthetic columns the parquet/ORC
        # paths materialize above (part_cols — df is already
        # repartitioned on them), and nested struct/list/map schemas
        # encode with field-ids at every level; uuid/fixed/time leaves
        # still refuse loudly.
        stats = write_avro_dataset(
            spark, df, data_root, schema_json,
            partition_cols=part_cols,
            max_records_per_file=_max_records_per_file(tm, schema_json))
    else:
        raise NotImplementedError(
            f"Unsupported value {fmt!r} for 'write.format.default'; "
            "supported: 'parquet', 'orc' and 'avro'")

    data_files = _build_data_files_with_names(stats, tm, spec, data_root,
                                              file_format=fmt.upper())
    if order.fields:
        # data files record the sort order they were written under (spec
        # `sort_order_id`; the reference's merge/insert tests assert it on
        # every ADDED file, merge_update_insert_partitioned_ordered.test)
        for d in data_files:
            d.sort_order_id = order.order_id
    return data_files, data_root


def parse_byte_size(v) -> int:
    """'1048576', '1024KB', '512MB', '1GB' → bytes (the reference accepts
    suffixed sizes for write.target-file-size-bytes,
    test_target_file_size_bytes.test)."""
    s = str(v).strip().upper()
    for suffix, mult in (("KB", 1024), ("MB", 1024 ** 2), ("GB", 1024 ** 3),
                         ("TB", 1024 ** 4), ("B", 1)):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)])) * mult
    return int(s)


#: per-type uncompressed row-size estimates (bytes) for file-size targeting
_TYPE_EST_BYTES = {"boolean": 1, "int": 4, "long": 8, "float": 4,
                   "double": 8, "date": 4, "time": 8, "timestamp": 8,
                   "timestamptz": 8, "timestamp_ns": 8, "timestamptz_ns": 8,
                   "string": 24, "uuid": 16, "binary": 48, "fixed": 16,
                   "decimal": 8, "variant": 64}


def _max_records_per_file(tm: TableMetadata, schema_json: dict) -> int | None:
    """Rows-per-file cap honoring ``write.target-file-size-bytes``
    (reference sizes output files at write time, iceberg_insert.cpp:674;
    its test expects ~4-6 files for 500k rows at a 1 MiB target). Spark's
    streaming parquet writer can't cut on byte size, so the cap derives
    from a schema-based row estimate with a ~2x parquet compression
    assumption — approximate by design, right order of magnitude."""
    raw = (tm.properties.get("write.target-file-size-bytes")
           or tm.properties.get("write.parquet.target-file-size-bytes"))
    if not raw:
        return None
    try:
        target = parse_byte_size(raw)
    except ValueError:
        return None
    est = 0
    for f in schema_json["fields"]:
        t = f["type"]
        name = ice_types.primitive_name(t) if isinstance(t, str) else None
        est += _TYPE_EST_BYTES.get(name, 32)
    return max(1024, int(target * 2) // max(est, 1))


#: Iceberg write property → parquet-hadoop option for Spark's writer
#: (reference: iceberg_insert.cpp:596-648 ICEBERG_TABLE_PROPERTY_MAPPING)
_PARQUET_PROP_MAPPING = {
    "write.parquet.row-group-size-bytes": "parquet.block.size",
    "write.parquet.page-size-bytes": "parquet.page.size",
    "write.parquet.dict-size-bytes": "parquet.dictionary.page.size",
}


#: iceberg per-column parquet properties → Spark writer option PREFIX
#: (suffix `#<col>`). The reference leaves these as a TODO because
#: duckdb's bloom knobs are per-table (iceberg_insert.cpp:628-630);
#: Spark's parquet writer takes them per column, so the mapping is real
#: here (r14).
_PARQUET_COL_PROP_MAPPING = {
    "write.parquet.bloom-filter-enabled.column.":
        "parquet.bloom.filter.enabled#",
    "write.parquet.bloom-filter-fpp.column.": "parquet.bloom.filter.fpp#",
}


def _parquet_write_options(tm: TableMetadata) -> dict[str, str]:
    out: dict[str, str] = {}
    for prop, opt in _PARQUET_PROP_MAPPING.items():
        v = tm.properties.get(prop)
        if v is not None:
            try:
                out[opt] = str(parse_byte_size(v))
            except ValueError:
                pass
    for prop, v in tm.properties.items():
        for prefix, opt_prefix in _PARQUET_COL_PROP_MAPPING.items():
            if prop.startswith(prefix) and prop[len(prefix):]:
                out[opt_prefix + prop[len(prefix):]] = str(v)
    if tm.properties.get("write.parquet.bloom-filter-max-bytes"):
        try:
            out["parquet.bloom.filter.max.bytes"] = str(parse_byte_size(
                tm.properties["write.parquet.bloom-filter-max-bytes"]))
        except ValueError:
            pass
    return out


def write_parquet_dataset(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    *,
    compression: str = "zstd",
    partition_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
    parquet_options: dict[str, str] | None = None,
) -> list[str]:
    """One write surface for every dataset the engine materializes (data
    files, positional/equality delete files): Spark-native
    ``df.write.parquet`` when the scheme allows, otherwise the arrow data
    plane streams parquet from the executors to the object store. Returns
    the written file paths (listed through the FileIO either way)."""
    from ..io import arrow_data as _ad

    if _ad.is_spark_native(spark, [out_dir]):
        writer = df.write.mode("errorifexists").option("compression", compression)
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        for k, v in (parquet_options or {}).items():
            writer = writer.option(k, v)
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(_ad.to_native_path(out_dir))
        return sorted(
            e.path for e in fio.get_io(out_dir).list_files(out_dir)
            if e.path.endswith(".parquet"))
    return _ad.write_parquet(spark, df, out_dir, compression=compression,
                             partition_cols=partition_cols)


def _orc_codec(prop: str) -> str:
    """``write.orc.compression-codec`` property value → Spark ORC
    ``compression`` option (zlib is the Iceberg spec default)."""
    v = (prop or "zlib").lower()
    mapping = {"zlib": "zlib", "snappy": "snappy", "zstd": "zstd",
               "lz4": "lz4", "lzo": "lzo", "none": "none",
               "uncompressed": "none"}
    if v not in mapping:
        raise NotImplementedError(
            f"Unsupported value {prop!r} for 'write.orc.compression-codec'; "
            "supported: 'zlib', 'snappy', 'zstd', 'lz4', 'lzo', 'none'")
    return mapping[v]


def write_orc_dataset(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    *,
    compression: str = "zlib",
    partition_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> list[str]:
    """ORC twin of write_parquet_dataset (Spark-native schemes only — the
    arrow data plane streams parquet, not ORC)."""
    from ..io import arrow_data as _ad

    if not _ad.is_spark_native(spark, [out_dir]):
        raise NotImplementedError(
            "ORC data files require a Spark-native path scheme (the arrow "
            "data plane streams parquet only)")
    writer = df.write.mode("errorifexists").option("compression", compression)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.orc(_ad.to_native_path(out_dir))
    return sorted(
        e.path for e in fio.get_io(out_dir).list_files(out_dir)
        if e.path.endswith(".orc"))


#: iceberg primitive types whose ORC min/max from a Spark aggregate are
#: trustworthy exact bounds (strings still pass the 64-char guard downstream)
_ORC_STAT_TYPES = {"boolean", "int", "long", "float", "double", "decimal",
                   "date", "time", "timestamp", "timestamptz", "string"}


#: iceberg primitive LEAVES the Avro WRITE path encodes (r13: the common
#: Flink-table surface incl. decimals; r14: also inside struct/list/map)
_AVRO_WRITE_TYPES = {"boolean", "int", "long", "float", "double",
                     "string", "binary", "date", "timestamp",
                     "timestamptz", "decimal"}

#: r15 (VERDICT r14 task 6): uuid/fixed/time encode at TOP LEVEL — the
#: codec has decoded all three since r12 (uuid → fixed(16) w/ uuid
#: logical type, fixed[L] → fixed(L), time → time-micros long), so only
#: the encode gate was missing. They stay refused INSIDE struct/list/map
#: because the arrow read plane doesn't resolve nested uuid
#: (io/arrow_data.py) — a write we can't read back would be a trap.
_AVRO_WRITE_TYPES_TOP = _AVRO_WRITE_TYPES | {"uuid", "fixed", "time"}


def _avro_norm_nested(v, t):
    """Executor-side normalization of one nested value into the Avro
    encoder's shapes, driven by the ICEBERG type tree (r14): arrow→pandas
    hands structs as dicts/Rows, lists as numpy arrays, maps as dicts or
    (key, value) tuple lists; temporal leaves arrive as date/Timestamp
    objects and become days/micros ints; decimals become the schema's
    fixed-size big-endian two's complement. Inside nested objects NULL
    is a real None (no numpy-column conflation), so a float NaN leaf is
    a genuine data value and survives."""
    import datetime as _dt
    import math
    from decimal import Decimal as _D

    if v is None:
        return None
    if isinstance(t, str):
        n = ice_types.primitive_name(t)
        if n in ("float", "double"):
            return float(v)  # NaN here is a genuine data value
        if isinstance(v, float) and math.isnan(v):
            return None  # pandas null-as-NaN for a non-float leaf
        if n in ("int", "long"):
            return int(v)
        if n == "date":
            if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
                return (v - _dt.date(1970, 1, 1)).days
            return int(v)
        if n in ("timestamp", "timestamptz"):
            if hasattr(v, "to_pydatetime"):
                v = v.to_pydatetime()
            if isinstance(v, _dt.datetime):
                if v.tzinfo is not None:
                    v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                return ((v - _dt.datetime(1970, 1, 1))
                        // _dt.timedelta(microseconds=1))
            return int(v)
        if n == "decimal":
            p, s = ice_types.decimal_precision_scale(t)
            size = (p + 2) // 2 + 1
            return int(_D(v).scaleb(s)).to_bytes(size, "big", signed=True)
        if n == "binary":
            return bytes(v)
        return v  # string / boolean
    if isinstance(v, float) and math.isnan(v):
        return None  # a null container rendered as NaN
    k = t["type"]
    if k == "struct":
        if isinstance(v, dict):
            get = v.get
        else:
            def get(name):  # Row-like
                return getattr(v, name, None)
        return {f["name"]: _avro_norm_nested(get(f["name"]), f["type"])
                for f in t["fields"]}
    if k == "list":
        return [_avro_norm_nested(x, t["element"]) for x in v]
    items = v.items() if isinstance(v, dict) else v
    if t.get("key", "string") != "string":
        # iceberg's array-of-kv encoding (r15): Avro maps are
        # string-keyed, so non-string-key maps write as
        # array<record{key, value}> with logicalType map — the shape the
        # read plane has decoded since r12
        return [{"key": _avro_norm_nested(kk, t["key"]),
                 "value": _avro_norm_nested(vv, t["value"])}
                for kk, vv in items]
    return {str(kk): _avro_norm_nested(vv, t["value"]) for kk, vv in items}


def _avro_data_type(t, fid_hint: int):
    """Iceberg type (primitive string OR nested dict) → Avro schema for
    DATA files, field-id/element-id/key-id/value-id stamped at every
    level so the engine's own by-field-id scan (and any Iceberg-Avro
    reader) resolves members after renames (r14 — the read side has
    decoded these shapes since r12/r13)."""
    from ..metadata.manifest import iceberg_to_avro_type

    if isinstance(t, str):
        return iceberg_to_avro_type(t, fid_hint)
    k = t["type"]
    if k == "struct":
        return {"type": "record", "name": f"r{fid_hint}", "fields": [
            {"name": sf["name"], "field-id": int(sf["id"]),
             "type": ["null", _avro_data_type(sf["type"], int(sf["id"]))]}
            for sf in t["fields"]]}
    if k == "list":
        eid = int(t["element-id"])
        return {"type": "array", "element-id": eid,
                "items": ["null", _avro_data_type(t["element"], eid)]}
    vid = int(t["value-id"])
    kid = int(t["key-id"])
    if t.get("key", "string") != "string":
        # non-string keys: the spec's array-of-kv encoding (r15)
        return {"type": "array", "logicalType": "map",
                "items": {"type": "record", "name": f"k_v{kid}",
                          "fields": [
                              {"name": "key", "field-id": kid,
                               "type": _avro_data_type(t["key"], kid)},
                              {"name": "value", "field-id": vid,
                               "type": ["null",
                                        _avro_data_type(t["value"],
                                                        vid)]}]}}
    return {"type": "map", "key-id": kid, "value-id": vid,
            "values": ["null", _avro_data_type(t["value"], vid)]}


def _check_avro_writable(t, name: str, top: bool = False) -> None:
    """Recursive scope pin for the Avro write path: every primitive leaf
    must be in _AVRO_WRITE_TYPES (timestamp_ns/variant refuse loudly at
    any depth; r15: uuid/fixed/time are writable at TOP level but still
    refuse inside struct/list/map — the arrow read plane doesn't resolve
    them nested), map keys must be strings (Avro maps are string-keyed;
    Iceberg's array-of-kv encoding for other key types is a
    read-side-only shape here)."""
    if isinstance(t, str):
        n = ice_types.primitive_name(t)
        allowed = _AVRO_WRITE_TYPES_TOP if top else _AVRO_WRITE_TYPES
        if n not in allowed:
            scope = ("" if top
                     else " (nested — uuid/fixed/time are top-level only)")
            raise NotImplementedError(
                f"avro data-file writes support "
                f"{sorted(allowed)} leaves only{scope}; unsupported: "
                f"[{name!r}: {n}]")
        return
    k = t["type"]
    if k == "struct":
        for f in t["fields"]:
            _check_avro_writable(f["type"], f"{name}.{f['name']}")
    elif k == "list":
        _check_avro_writable(t["element"], f"{name}.element")
    elif k == "map":
        # r15: non-string keys write via the spec's array-of-kv encoding
        # (the read plane has decoded it since r12); keys and values
        # both recurse under the NESTED leaf set
        if t.get("key", "string") != "string":
            _check_avro_writable(t["key"], f"{name}.key")
        _check_avro_writable(t["value"], f"{name}.value")
    else:
        raise NotImplementedError(
            f"avro data-file writes cannot encode {k!r} column {name!r}")


def write_avro_dataset(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    schema_json: dict,
    *,
    partition_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> list[dict]:
    """Avro OCF data files via the package's pure-Python codec (NEW r13
    — the WRITE side of the third data-file format; the r12 read side
    already exceeds the reference's parquet-only scope). Executors
    encode their partitions into field-id-stamped Iceberg-Avro files
    through the FileIO; per-file bounds/null-counts are computed IN the
    encoding pass (this deployment has no spark-avro source, so the ORC
    path's re-read aggregate is not an option). Returns stats dicts in
    the _collect_stats shape. r14: nested struct/list/map columns encode
    too (field-ids stamped at every level; executor-side normalization
    of temporal/decimal leaves), and partition_cols may include
    SYNTHETIC transform columns — directory values render from a
    string-cast copy, matching Spark partitionBy's own hive rendering
    for every transform_result_type."""
    import base64 as _b64
    import json as _json

    fields = schema_json["fields"]
    for f in fields:
        _check_avro_writable(f["type"], f["name"], top=True)

    avro_schema = {
        "type": "record", "name": "r", "fields": [
            {"name": f["name"], "field-id": int(f["id"]),
             "type": ["null", _avro_data_type(f["type"], int(f["id"]))]}
            for f in fields]}
    # Spark-side normalization so executors see plain ints/floats/strs:
    # date -> days since epoch, timestamp -> epoch micros (the Avro
    # physical forms). Session TZ is UTC everywhere in this engine.
    # Decimals pass through as Decimal objects; the encoder packs them
    # into the schema's fixed-size big-endian two's complement.
    sel = []
    kinds = {}
    dec_meta = {}
    fix_meta = {}
    types_by_name = {f["name"]: f["type"] for f in fields}
    for f in fields:
        nm = f["name"]
        if not isinstance(f["type"], str):
            # nested: pass the raw objects through arrow→pandas; the
            # executor normalizes leaves against the iceberg type tree
            kinds[nm] = "nested"
            sel.append(F.col(nm))
            continue
        t = ice_types.primitive_name(f["type"])
        kinds[nm] = t
        c = F.col(nm)
        if t == "date":
            sel.append(F.datediff(c, F.to_date(F.lit("1970-01-01")))
                       .alias(nm))
        elif t in ("timestamp", "timestamptz"):
            sel.append(F.unix_micros(c.cast("timestamp")).alias(nm))
        else:
            if t == "decimal":
                p, s_ = ice_types.decimal_precision_scale(f["type"])
                dec_meta[nm] = (s_, (p + 2) // 2 + 1)  # scale, fixed size
            elif t == "fixed":
                import re as _re

                fix_meta[nm] = int(
                    _re.match(r"fixed\[(\d+)\]", f["type"]).group(1))
            # time/uuid pass through raw (datetime.time or canonical
            # string); the executor normalizes to micros / 16 bytes
            sel.append(c.alias(nm))
    names = [f["name"] for f in fields]
    ids = {f["name"]: int(f["id"]) for f in fields}
    # numpy-backed pandas renders BOTH Spark NULL and a genuine NaN
    # float as NaN, so mapInPandas alone cannot tell them apart (ADVICE
    # r13): ship a Spark-side null mask per float/double column and
    # route null-vs-NaN decisions through it executor-side.
    float_cols = [nm for nm in names if kinds[nm] in ("float", "double")]
    for nm in float_cols:
        sel.append(F.isnull(F.col(nm)).alias("__isnull__" + nm))
    part_cols = list(partition_cols or [])
    # hive-dir rendering (r14): a string-cast copy per partition column
    # renders every transform_result_type exactly as Spark's partitionBy
    # would (ISO dates/timestamps, true/false, plain numerics), so
    # _partition_values_from_path parses the same value back. The copy
    # also carries SYNTHETIC transform columns that are not record
    # fields — they ride the frame but never enter the Avro records.
    for c in part_cols:
        sel.append(F.col(c).cast("string").alias("__part__" + c))
    cap = int(max_records_per_file) if max_records_per_file else None
    from ..fanout import worker_io

    install_io = worker_io(out_dir)

    def batches(it):
        import math
        import os as _os
        import tempfile
        import uuid as _u

        import pandas as pd

        from duckdb_iceberg_spark.io import get_io
        from duckdb_iceberg_spark.metadata import avro_io

        install_io()
        frames = [pdf for pdf in it]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        n = len(pdf)
        if n == 0:
            return
        per = cap or n
        import urllib.parse as _up

        if part_cols:
            pkeys = ["__part__" + c for c in part_cols]
            groups = [(key if isinstance(key, tuple) else (key,), g)
                      for key, g in pdf.groupby(pkeys, dropna=False,
                                                sort=True)]
        else:
            groups = [((), pdf)]
        out_rows = []
        chunks = []
        for key, g in groups:
            comps = []
            for c, v in zip(part_cols, key):
                sval = ("__HIVE_DEFAULT_PARTITION__" if v is None
                        or (isinstance(v, float) and math.isnan(v))
                        else str(v))
                comps.append(f"{c}={_up.quote(sval, safe='')}")
            subdir = "/".join(comps)
            for lo in range(0, len(g), per):
                chunks.append((subdir, g.iloc[lo:lo + per]))
        for subdir, chunk in chunks:
            # pandas floats carry NaN for nulls of int columns; normalize
            # to None and exact ints per the declared kind
            recs = []
            for rec in chunk.to_dict("records"):
                r2 = {}
                for nm in names:
                    v = rec.get(nm)
                    if kinds[nm] == "nested":
                        r2[nm] = _avro_norm_nested(v, types_by_name[nm])
                    elif kinds[nm] in ("float", "double"):
                        # NULL and NaN are the same NaN here; only the
                        # Spark-side mask knows which — a real NaN data
                        # value must be WRITTEN as NaN, not nulled.
                        r2[nm] = (None if rec.get("__isnull__" + nm)
                                  else float(v))
                    elif v is None or (isinstance(v, float)
                                       and math.isnan(v)):
                        r2[nm] = None
                    elif kinds[nm] in ("int", "long", "date", "timestamp",
                                       "timestamptz"):
                        r2[nm] = int(v)
                    elif kinds[nm] == "time":
                        # datetime.time (TimeType session) or already-µs
                        # long (pre-4.1 mapping) → time-micros long
                        from duckdb_iceberg_spark.metadata import (
                            types as _itypes)

                        r2[nm] = _itypes.time_to_micros(v)
                    elif kinds[nm] == "uuid":
                        import uuid as _uuid2

                        r2[nm] = _uuid2.UUID(str(v)).bytes
                    elif kinds[nm] == "fixed":
                        b = bytes(v)
                        if len(b) != fix_meta[nm]:
                            raise ValueError(
                                f"fixed[{fix_meta[nm]}] column {nm!r} got "
                                f"a {len(b)}-byte value")
                        r2[nm] = b
                    elif kinds[nm] == "binary":
                        r2[nm] = bytes(v)
                    elif kinds[nm] == "decimal":
                        s_, size = dec_meta[nm]
                        from decimal import Decimal as _D

                        r2[nm] = int(_D(v).scaleb(s_)).to_bytes(
                            size, "big", signed=True)
                    else:
                        r2[nm] = v
                recs.append(r2)
            base_dir = f"{out_dir}/{subdir}" if subdir else out_dir
            path = f"{base_dir}/part-{_u.uuid4().hex[:16]}.avro"
            tmp = tempfile.NamedTemporaryFile(suffix=".avro", delete=False)
            tmp.close()
            try:
                avro_io.write_avro_file(tmp.name, avro_schema, recs)
                with open(tmp.name, "rb") as fh:
                    data = fh.read()
            finally:
                _os.unlink(tmp.name)
            get_io(path).write_bytes(path, data)
            # in-pass stats: bounds/nulls per column (float/double files
            # containing ANY NaN get no bounds — parquet-writer parity)
            mins, maxs, nulls, nans = {}, {}, {}, {}
            for nm in names:
                fid = ids[nm]
                col = chunk[nm]
                if kinds[nm] == "nested":
                    # null count only — iceberg tracks bounds per leaf
                    # field; nested bounds are a metrics-mode refinement
                    # the scan treats as absent (no wrong pruning)
                    nulls[fid] = int(col.map(
                        lambda x: x is None or (isinstance(x, float)
                                                and math.isnan(x))).sum())
                    continue
                if kinds[nm] in ("float", "double"):
                    # isna() would fold NaN data values into the null
                    # count and dropna() would hide them from the
                    # any-NaN -> no-bounds guard; use the mask instead
                    isnull = chunk["__isnull__" + nm].astype(bool)
                    nulls[fid] = int(isnull.sum())
                    vals = col[~isnull]
                    n_nan = int(vals.map(
                        lambda x: isinstance(x, float)
                        and math.isnan(x)).sum())
                    if n_nan:
                        nans[fid] = n_nan
                        continue
                elif kinds[nm] in ("time", "uuid", "fixed"):
                    # r15: bounds in the value's ORDER-PRESERVING form —
                    # micros for time; raw bytes for uuid/fixed (byte
                    # order == canonical-hex order for uuid)
                    nulls[fid] = int(col.isna().sum())
                    vals = col.dropna()
                    if len(vals) == 0:
                        continue
                    if kinds[nm] == "time":
                        from duckdb_iceberg_spark.metadata import (
                            types as _itypes)

                        conv = [_itypes.time_to_micros(x) for x in vals]
                        mins[fid], maxs[fid] = min(conv), max(conv)
                    else:
                        import uuid as _uuid3

                        conv = [(_uuid3.UUID(str(x)).bytes
                                 if kinds[nm] == "uuid" else bytes(x))
                                for x in vals]
                        mins[fid] = _b64.b64encode(min(conv)).decode()
                        maxs[fid] = _b64.b64encode(max(conv)).decode()
                    continue
                else:
                    nulls[fid] = int(col.isna().sum())
                    vals = col.dropna()
                if len(vals) == 0:
                    continue
                lo_v, hi_v = vals.min(), vals.max()
                if kinds[nm] == "binary":
                    lo_v = _b64.b64encode(bytes(lo_v)).decode()
                    hi_v = _b64.b64encode(bytes(hi_v)).decode()
                elif kinds[nm] == "decimal":
                    # JSON-safe exact rendering; revived as Decimal
                    lo_v, hi_v = str(lo_v), str(hi_v)
                mins[fid] = (lo_v if isinstance(lo_v, str)
                             else (float(lo_v) if kinds[nm] in
                                   ("float", "double") else int(lo_v)))
                maxs[fid] = (hi_v if isinstance(hi_v, str)
                             else (float(hi_v) if kinds[nm] in
                                   ("float", "double") else int(hi_v)))
            out_rows.append({
                "path": path, "n": len(chunk), "size": len(data),
                "stats": _json.dumps({
                    "mins": mins, "maxs": maxs, "nulls": nulls,
                    "nans": nans})})
        yield pd.DataFrame(out_rows)

    rows = (df.select(*sel)
            .mapInPandas(batches, "path string, n long, size long, "
                                  "stats string").collect())
    import datetime as _dt
    import json as _json2

    out = []
    for r in rows:
        st = _json2.loads(r.stats)
        mins, maxs = {}, {}
        for src, dst in ((st["mins"], mins), (st["maxs"], maxs)):
            for fid_s, v in src.items():
                fid = int(fid_s)
                nm = next(f["name"] for f in fields if int(f["id"]) == fid)
                t = kinds[nm]
                if t == "date":
                    v = _dt.date(1970, 1, 1) + _dt.timedelta(days=int(v))
                elif t in ("timestamp", "timestamptz"):
                    v = (_dt.datetime(1970, 1, 1)
                         + _dt.timedelta(microseconds=int(v)))
                elif t == "time":
                    v = ice_types.micros_to_time(int(v))
                elif t in ("binary", "uuid", "fixed"):
                    import base64 as _b

                    v = _b.b64decode(v)
                elif t == "decimal":
                    from decimal import Decimal as _D

                    v = _D(v)
                dst[fid] = v
        nulls = {int(k): int(v) for k, v in st["nulls"].items()}
        out.append({
            "path": r.path, "record_count": int(r.n),
            "file_size": int(r.size),
            "value_counts": {fid: int(r.n) for fid in
                             (int(f["id"]) for f in fields)},
            "null_counts": nulls, "col_sizes": {},
            "mins": mins, "maxs": maxs,
            "nan_counts": {int(k): int(v)
                           for k, v in st.get("nans", {}).items()},
        })
    return out


def _collect_stats_orc(spark: SparkSession, paths: list[str],
                       schema_json: dict,
                       spec: PartitionSpec | None = None) -> list[dict]:
    """Per-file stats for ORC data files. pyarrow can read ORC metadata but
    exposes no per-column statistics, so bounds/null-counts come from ONE
    distributed Spark aggregate grouped by ``_metadata.file_path`` — O(rows)
    map work with a #files-row result, the same boundedness as the parquet
    footer pass (and exact, not footer-truncated)."""
    if not paths:
        return []
    from ..io import get_io, normalize_path

    io = get_io(paths[0])
    if len(paths) > 4:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
            sizes = dict(zip(paths, ex.map(io.size, paths)))
    else:
        sizes = {p: io.size(p) for p in paths}

    from ..io import arrow_data as _ad
    from ..metadata import types as ice_types

    # identity-partitioned source columns live in directory names, not in
    # the file contents (partitionBy drops them) — aggregating them would
    # record all-NULL stats that poison pruning; _build_data_files fills
    # their bounds from the partition values instead (Java-writer parity)
    ident_ids = {pf.source_id for pf in (spec.fields if spec else [])
                 if pf.transform == "identity"}
    stat_fields = [
        f for f in schema_json["fields"]
        if isinstance(f["type"], str)
        and f["id"] not in ident_ids
        and ice_types.primitive_name(f["type"]) in _ORC_STAT_TYPES]
    read_st = T.StructType([
        T.StructField(f["name"], ice_types.iceberg_to_spark(f["type"]), True)
        for f in stat_fields])
    src = spark.read.schema(read_st).orc(
        [_ad.to_native_path(p) for p in paths])
    aggs = [F.count(F.lit(1)).alias("__n")]
    for f in stat_fields:
        c = F.col(f["name"])
        fid = f["id"]
        if ice_types.primitive_name(f["type"]) in ("float", "double"):
            # NaN handling mirrors parquet writers: a file containing ANY
            # NaN in the column gets NO min/max (parquet-mr drops stats
            # for NaN-polluted columns). Recording NaN as max poisons
            # range pruning one way (NaN >= x false in the bounds truth
            # table) while recording the NaN-filtered max loses NaN-only
            # matches the other way (Spark evaluates NaN >= x as TRUE) —
            # absent bounds are the only safe spelling, and nan counts
            # land in nan_value_counts like the spec wants.
            sc = F.when(~F.isnan(c), c)
            aggs.append(F.min(sc).alias(f"__min_{fid}"))
            aggs.append(F.max(sc).alias(f"__max_{fid}"))
            aggs.append(F.sum(F.isnan(c).cast("long"))
                        .alias(f"__nan_{fid}"))
        else:
            aggs.append(F.min(c).alias(f"__min_{fid}"))
            aggs.append(F.max(c).alias(f"__max_{fid}"))
        aggs.append(F.sum(c.isNull().cast("long")).alias(f"__null_{fid}"))
    grouped = (src.groupBy(F.col("_metadata.file_path").alias("__p"))
               .agg(*aggs).collect())
    by_path = {
        urllib.parse.unquote(normalize_path(r["__p"])): r for r in grouped}

    out = []
    for p in paths:
        r = by_path.get(normalize_path(p))
        if r is None:
            # a file absent from the grouped counts is zero-row; Spark
            # skips it in the scan entirely
            out.append({"path": p, "record_count": 0, "file_size": sizes[p],
                        "value_counts": {}, "null_counts": {},
                        "col_sizes": {}, "mins": {}, "maxs": {}})
            continue
        mins: dict[int, Any] = {}
        maxs: dict[int, Any] = {}
        nulls: dict[int, int] = {}
        vcounts: dict[int, int] = {}
        nans: dict[int, int] = {}
        for f in stat_fields:
            fid = f["id"]
            vcounts[fid] = int(r["__n"])
            nulls[fid] = int(r[f"__null_{fid}"] or 0)
            n_nan = int(r[f"__nan_{fid}"] or 0) \
                if ice_types.primitive_name(f["type"]) in ("float",
                                                           "double") else 0
            if n_nan:
                nans[fid] = n_nan
                # a NaN-polluted column gets NO bounds in this file
                # (parquet-writer parity — see the aggregate above)
                continue
            if r[f"__min_{fid}"] is not None:
                mins[fid] = r[f"__min_{fid}"]
            if r[f"__max_{fid}"] is not None:
                maxs[fid] = r[f"__max_{fid}"]
        out.append({"path": p, "record_count": int(r["__n"]),
                    "file_size": sizes[p], "value_counts": vcounts,
                    "null_counts": nulls, "col_sizes": {},
                    "mins": mins, "maxs": maxs, "nan_counts": nans})
    return out


def _build_data_files_with_names(stats, tm, spec, data_root, *,
                                 file_format: str = "PARQUET"):
    # Directory component keys are the raw column name for identity fields
    # (we partitionBy the raw column) and the spec field name for derived
    # transforms; parse with those keys, then rename to spec field names.
    by_id = {f["id"]: f for f in tm.schema_json()["fields"]}
    spec_for_parse = PartitionSpec(
        spec.spec_id,
        [
            PartitionField(
                pf.source_id,
                pf.field_id,
                (by_id[pf.source_id]["name"] if pf.transform == "identity" and pf.source_id in by_id else pf.name),
                pf.transform,
            )
            for pf in spec.fields
        ],
    )
    raw = _build_data_files(stats, tm, spec_for_parse, data_root,
                            file_format=file_format)
    # rename partition keys back to spec field names
    name_map = {
        (by_id[pf.source_id]["name"] if pf.transform == "identity" and pf.source_id in by_id else pf.name): pf.name
        for pf in spec.fields
    }
    for d in raw:
        d.partition = {name_map.get(k, k): v for k, v in d.partition.items()}
    return raw


# ---------------------------------------------------------------------------
# snapshot commit
# ---------------------------------------------------------------------------

def _inherit_before_existing(entries: list[mf.ManifestEntry], m: mf.ManifestFile) -> None:
    """Re-statusing entries as EXISTING detaches them from their source
    manifest's v2 inheritance context, so null sequence_number /
    snapshot_id must be made explicit first (from the manifest-list row):
    otherwise the new manifest's own (higher) sequence number re-inherits
    onto old data entries and older positional deletes (del.seq >= data.seq)
    stop applying — deleted rows resurrect. Null snapshot_id on EXISTING
    entries also violates the spec (strict readers reject it)."""
    for e in entries:
        if e.sequence_number is None:
            e.sequence_number = m.sequence_number
        if e.file_sequence_number is None:
            e.file_sequence_number = m.sequence_number
        if e.snapshot_id is None:
            e.snapshot_id = m.added_snapshot_id
        e.status = mf.STATUS_EXISTING


def commit_snapshot(
    tm: TableMetadata,
    *,
    operation: str,
    new_data_files: list[mf.DataFile] | None = None,
    new_delete_files: list[mf.DataFile] | None = None,
    removed_data_paths: set[str] | None = None,
    removed_delete_paths: set[str] | None = None,
    superseded_dv_refs: set[str] | None = None,
    keep_existing: bool = True,
    extra_summary: dict | None = None,
    commit_fn=None,
    pinned_data_sequence: int | None = None,
    branch: str | None = None,
) -> Snapshot:
    """Stage and commit one snapshot (append/delete/overwrite/replace).
    Mirrors the reference's Finalize + transaction commit
    (iceberg_insert.cpp:286-329, iceberg_transaction.cpp).

    Manifests and the manifest list are written to table storage, then
    ``commit_fn(snapshot, rebuild_fn)`` commits the snapshot — by default
    through a ``FileTable`` over ``tm`` (``catalog.commit.committer``
    builds one for any table). ``rebuild_fn(refreshed_tm)`` re-runs this
    whole build — carry-forward, row-id assignment, manifest list —
    against refreshed metadata, so a conflict retry carries the
    concurrent winner's manifests instead of silently dropping them (a
    parent-id rebase of the stale manifest list would lose the winner's
    files). ``tm`` is not advanced: the table committed through holds the
    new metadata. Returns the snapshot that was committed."""
    commit_fn = commit_fn or committer(FileTable(tm.location, tm), operation)
    # first_row_id values _build assigns must be reset before a rebuild —
    # stale assignments from a conflicted attempt would otherwise survive
    # the `is None` guard and claim the wrong (pre-refresh) row-id range
    orig_data_row_ids = [d.first_row_id for d in (new_data_files or [])]

    def _build(tm: TableMetadata) -> Snapshot:
        return _build_snapshot(
            tm, operation=operation, new_data_files=new_data_files,
            new_delete_files=new_delete_files,
            removed_data_paths=removed_data_paths,
            removed_delete_paths=removed_delete_paths,
            superseded_dv_refs=superseded_dv_refs,
            keep_existing=keep_existing, extra_summary=extra_summary,
            orig_data_row_ids=orig_data_row_ids,
            pinned_data_sequence=pinned_data_sequence)

    build = _build
    on_branch = branch is not None and branch != "main"
    if on_branch:
        # Write-Audit-Publish staging (the Spark branch-write analogue):
        # the new snapshot's PARENT and carry-forward base are the BRANCH
        # head (a missing branch forks from main's current head), the
        # commit asserts and advances the branch ref alone, and main's
        # current-snapshot-id + snapshot-log stay untouched — readers of
        # main never see staged work until fast_forward publishes it.
        # Sequence numbers are table-global per spec, so the staged
        # snapshot still claims the next one.
        def build(tm2: TableMetadata) -> Snapshot:
            # parent + carry-forward base = the branch head of WHATEVER
            # metadata the (possibly refreshed) build runs against
            saved2 = tm2.current_snapshot_id
            head = tm2.branch_head(branch)
            if head is not None:
                tm2.current_snapshot_id = head
            try:
                return _build(tm2)
            finally:
                tm2.current_snapshot_id = saved2

    built = [build(tm)]

    def _rebuild(tm2: TableMetadata) -> Snapshot:
        built.append(build(tm2))
        return built[-1]

    if on_branch:
        commit_fn(built[0], _rebuild, branch=branch)
    else:
        commit_fn(built[0], _rebuild)
    return built[-1]


#: automatic manifest-merge defaults (reference:
#: iceberg_manifest_merge.cpp:25-32 — Apache Iceberg's
#: ManifestMergeManager semantics)
MANIFEST_MERGE_MIN_COUNT_DEFAULT = 100
MANIFEST_MERGE_TARGET_BYTES_DEFAULT = 8 * 1024 * 1024


def _bin_pack_end(weights: list[int], target: int) -> list[list[int]]:
    """Java ManifestMergeManager / PyIceberg ListPacker.pack_end, mirrored
    exactly (reference: iceberg_manifest_merge.cpp:89-147): first-fit
    bin-packing with lookback=1 over the REVERSED input, bins closed FIFO
    when more than one is open, then bins and items reversed back. The
    lookback keeps manifests in position order and parks the under-filled
    bin on the newest manifests, which merge on a later commit."""
    packed: list[list[int]] = []
    open_bins: list[list] = []  # [weight_sum, [indices]]
    for i in range(len(weights) - 1, -1, -1):
        w = weights[i]
        for b in open_bins:
            if b[0] + w <= target:
                b[0] += w
                b[1].append(i)
                break
        else:
            open_bins.append([w, [i]])
            if len(open_bins) > 1:
                packed.append(open_bins.pop(0)[1])
    for b in open_bins:
        packed.append(b[1])
    return [list(reversed(b)) for b in reversed(packed)]


def _merge_small_manifests(
    tm: TableMetadata, manifests: list[mf.ManifestFile], snapshot_id: int,
    meta_dir: str,
) -> list[mf.ManifestFile]:
    """Bin-pack small carried manifests into ~target-size replacements on
    commit (commit.manifest-merge.enabled / .min-count-to-merge /
    .target-size-bytes; reference: iceberg_manifest_merge.cpp
    MergeManifestList + its test_merge_append.test family). Entries keep
    historical sequence numbers and v3 row-id inheritance is materialized
    per source manifest before entries detach, so merging is a pure
    physical repack. Manifest reads fan out to executors above the
    distributed-planner threshold."""
    props = tm.properties
    if str(props.get("commit.manifest-merge.enabled", "true")).lower() != "true":
        return manifests
    if len(manifests) <= 1:
        return manifests
    try:
        min_count = int(props.get("commit.manifest.min-count-to-merge",
                                  MANIFEST_MERGE_MIN_COUNT_DEFAULT))
        target = parse_byte_size(props.get(
            "commit.manifest.target-size-bytes",
            MANIFEST_MERGE_TARGET_BYTES_DEFAULT))
    except ValueError:
        return manifests

    groups: dict[tuple[int, int], list[int]] = {}
    for i, m in enumerate(manifests):
        groups.setdefault((m.content, m.partition_spec_id), []).append(i)
    if all(len(v) < max(2, min_count) for v in groups.values()):
        return manifests  # nothing can merge: skip all manifest reads

    from ..plans.scan_plan import _localize

    out: list[mf.ManifestFile] = []
    for (content, spec_id), idxs in groups.items():
        bins = _bin_pack_end(
            [int(manifests[i].manifest_length or 0) for i in idxs], target)
        for b in bins:
            gbin = [idxs[j] for j in b]
            if len(gbin) < 2 or len(gbin) < min_count:
                out.extend(manifests[i] for i in gbin)
                continue
            members = [manifests[i] for i in gbin]
            from .maintenance import _read_manifests

            entries: list[mf.ManifestEntry] = []
            for m, es in _read_manifests(tm, members):
                if content == mf.MANIFEST_DATA:
                    mf.inherit_first_row_ids(es, m.first_row_id)
                live = [e for e in es if e.status != mf.STATUS_DELETED]
                _inherit_before_existing(live, m)
                entries.extend(live)
            if not entries:
                continue  # bin collapsed (all entries deleted): drop it
            spec_m = tm.partition_specs.get(spec_id, tm.default_spec())
            prefix = "m" if content == mf.MANIFEST_DATA else "dm"
            mpath = os.path.join(meta_dir, f"{prefix}-{_uuid.uuid4()}.avro")
            nm = mf.write_manifest(mpath, entries, tm, spec_m, content)
            nm.added_snapshot_id = snapshot_id
            nm.sequence_number = max(e.sequence_number or 0 for e in entries)
            nm.min_sequence_number = min(e.sequence_number or 0 for e in entries)
            if content == mf.MANIFEST_DATA:
                rids = [m.first_row_id for m in members
                        if m.first_row_id is not None]
                if rids:
                    nm.first_row_id = min(rids)
            out.append(nm)
    return out


def _build_snapshot(
    tm: TableMetadata,
    *,
    operation: str,
    new_data_files,
    new_delete_files,
    removed_data_paths,
    removed_delete_paths,
    superseded_dv_refs,
    keep_existing: bool,
    extra_summary,
    orig_data_row_ids: list,
    pinned_data_sequence: int | None = None,
) -> Snapshot:
    """One build pass of commit_snapshot: write manifests + manifest list
    against ``tm``'s CURRENT state and return the staged Snapshot. Safe to
    call again with refreshed metadata after a commit conflict (fresh
    snapshot id, fresh carry-forward, fresh row-id ranges); files from a
    conflicted attempt become orphans, reclaimed by remove_orphan_files."""
    import time as _time

    location = tm.location
    meta_dir = tm.metadata_write_path()
    fio.get_io(meta_dir).mkdirs(meta_dir)
    snapshot_id = int.from_bytes(os.urandom(7), "big")
    parent = tm.current_snapshot_id
    seq = tm.last_sequence_number + 1
    spec = tm.default_spec()
    for d, rid0 in zip(new_data_files or [], orig_data_row_ids):
        d.first_row_id = rid0

    manifests: list[mf.ManifestFile] = []
    removed_bytes = 0  # data/delete file bytes this commit removes

    def _bytes(es) -> int:
        return sum(int(e.data_file.file_size_in_bytes or 0) for e in es)

    # carry forward prior manifests
    prior = tm.current_snapshot()
    if keep_existing and prior is not None and prior.manifest_list:
        from ..plans.scan_plan import _localize

        for m in mf.read_manifest_list(_localize(tm, prior.manifest_list)):
            if removed_data_paths and m.content == mf.MANIFEST_DATA:
                entries = mf.read_manifest(_localize(tm, m.manifest_path))
                # materialize inherited row ids before filtering: the live
                # subset would otherwise shift the inheritance offsets
                mf.inherit_first_row_ids(entries, m.first_row_id)
                nd = [e for e in entries if e.status != mf.STATUS_DELETED]
                live = [e for e in nd
                        if e.data_file.file_path not in removed_data_paths
                        and _localize(tm, e.data_file.file_path) not in removed_data_paths]
                removed_bytes += _bytes(nd) - _bytes(live)
                if len(live) == len(nd):
                    manifests.append(m)
                elif live:
                    _inherit_before_existing(live, m)
                    mpath = os.path.join(meta_dir, f"m-{_uuid.uuid4()}.avro")
                    spec_m = tm.partition_specs.get(m.partition_spec_id, spec)
                    nm = mf.write_manifest(mpath, live, tm, spec_m, mf.MANIFEST_DATA)
                    nm.added_snapshot_id = snapshot_id
                    nm.sequence_number = max(e.sequence_number or 0 for e in live)
                    nm.min_sequence_number = min(e.sequence_number or 0 for e in live)
                    # entries carry explicit first_row_ids (materialized
                    # above) when the source manifest had a range; mark the
                    # rewritten manifest so retro-assignment below doesn't
                    # burn a fresh id range on it (only true v2
                    # carry-forward manifests — entries WITHOUT ids — may
                    # claim one)
                    if m.first_row_id is not None:
                        ids = [e.data_file.first_row_id for e in live
                               if e.data_file.first_row_id is not None]
                        nm.first_row_id = min(ids) if ids else m.first_row_id
                    manifests.append(nm)
                # else: manifest fully removed
            elif (removed_delete_paths or removed_data_paths
                  or superseded_dv_refs) and m.content == mf.MANIFEST_DELETES:
                # v3 DV replacement: a new deletion vector supersedes the
                # file's previous DV (reference: iceberg_delete.cpp
                # altered_manifests handling) — matched by REFERENCED data
                # file, never by Puffin path: one Puffin can hold DVs for
                # many data files and only the rewritten blobs die (dropping
                # by Puffin path would resurrect the untouched files'
                # deletes). Compaction additionally drops delete entries
                # whose referenced data file was rewritten — the rewrite
                # materialized those deletes.
                from ..io import normalize_path as _np

                rdel = removed_delete_paths or set()
                rdata = removed_data_paths or set()
                sdv = superseded_dv_refs or set()

                def _dead(e) -> bool:
                    d = e.data_file
                    if d.file_path in rdel or _localize(tm, d.file_path) in rdel:
                        return True
                    ref = d.referenced_data_file
                    if not ref:
                        return False
                    if ref in rdata or _localize(tm, ref) in rdata:
                        return True
                    return bool(sdv) and (
                        ref in sdv or _localize(tm, ref) in sdv
                        or _np(_localize(tm, ref)) in sdv)

                entries = mf.read_manifest(_localize(tm, m.manifest_path))
                nd = [e for e in entries if e.status != mf.STATUS_DELETED]
                live = [e for e in nd if not _dead(e)]
                removed_bytes += _bytes(nd) - _bytes(live)
                if len(live) == len(nd):
                    manifests.append(m)
                elif live:
                    _inherit_before_existing(live, m)
                    mpath = os.path.join(meta_dir, f"dm-{_uuid.uuid4()}.avro")
                    spec_m = tm.partition_specs.get(m.partition_spec_id, spec)
                    nm = mf.write_manifest(mpath, live, tm, spec_m, mf.MANIFEST_DELETES)
                    nm.added_snapshot_id = snapshot_id
                    nm.sequence_number = max(e.sequence_number or 0 for e in live)
                    nm.min_sequence_number = min(e.sequence_number or 0 for e in live)
                    manifests.append(nm)
            else:
                manifests.append(m)

    # v3 row lineage: the snapshot claims [next-row-id, next-row-id + added
    # rows); every ADDED data file gets an explicit first_row_id (spec 'Row
    # Lineage' — the reference round-trips these in test_row_lineage_*.test)
    snap_first_row_id: int | None = None
    if tm.format_version >= 3:
        snap_first_row_id = tm.next_row_id
        rid = snap_first_row_id
        # v2->v3 upgrade: carried-forward manifests predate row lineage and
        # have no first_row_id — the FIRST v3 commit assigns them ranges
        # retroactively, in manifest-list order, so pre-upgrade rows get
        # their file positions as stable ids without any rewrite
        # (reference: test_upgrade_format_version_2_to_3.test,
        # CacheExistingManifestList retro-assignment)
        for m in manifests:
            if m.content == mf.MANIFEST_DATA and m.first_row_id is None:
                m.first_row_id = rid
                rid += m.added_rows_count + m.existing_rows_count
        for d in new_data_files or []:
            if d.first_row_id is None:
                d.first_row_id = rid
            rid += d.record_count
        tm.next_row_id = rid

    # automatic manifest merge over the CARRIED manifests (this commit's new
    # manifests are appended after, exactly the reference's commit order:
    # iceberg_table_update.cpp LoadExistingManifests → MergeManifestList) —
    # small-manifest buildup from frequent appends self-heals without an
    # explicit rewrite_manifests call
    manifests = _merge_small_manifests(tm, manifests, snapshot_id, meta_dir)

    if new_data_files:
        # compaction pins the rewritten files' DATA sequence to the max
        # input sequence (file_sequence_number stays the commit's) so
        # later-sequence equality deletes keep applying to the compacted
        # rows (reference: rewrite_data_files_sequence_pin.test)
        data_seq = pinned_data_sequence if pinned_data_sequence is not None else seq
        entries = [
            mf.ManifestEntry(
                status=mf.STATUS_ADDED, snapshot_id=snapshot_id,
                sequence_number=data_seq, file_sequence_number=seq,
                data_file=d,
            )
            for d in new_data_files
        ]
        mpath = os.path.join(meta_dir, f"m-{_uuid.uuid4()}.avro")
        nm = mf.write_manifest(mpath, entries, tm, spec, mf.MANIFEST_DATA)
        nm.added_snapshot_id = snapshot_id
        nm.sequence_number = seq
        nm.min_sequence_number = min(data_seq, seq)
        nm.first_row_id = snap_first_row_id
        manifests.append(nm)

    if new_delete_files:
        entries = [
            mf.ManifestEntry(
                status=mf.STATUS_ADDED, snapshot_id=snapshot_id,
                sequence_number=seq, file_sequence_number=seq, data_file=d,
            )
            for d in new_delete_files
        ]
        mpath = os.path.join(meta_dir, f"dm-{_uuid.uuid4()}.avro")
        nm = mf.write_manifest(mpath, entries, tm, spec, mf.MANIFEST_DELETES)
        nm.added_snapshot_id = snapshot_id
        nm.sequence_number = seq
        nm.min_sequence_number = seq
        manifests.append(nm)

    ml_path = os.path.join(meta_dir, f"snap-{snapshot_id}.avro")
    mf.write_manifest_list(ml_path, manifests, snapshot_id, parent, seq,
                           tm.format_version, properties=tm.properties)

    added_rows = sum(d.record_count for d in (new_data_files or []))
    total_rows = sum(m.added_rows_count + m.existing_rows_count for m in manifests
                     if m.content == mf.MANIFEST_DATA)
    summary = {
        "operation": operation,
        "added-data-files": str(len(new_data_files or [])),
        "added-records": str(added_rows),
        "total-records": str(total_rows),
        "total-data-files": str(sum(m.added_files_count + m.existing_files_count
                                    for m in manifests if m.content == mf.MANIFEST_DATA)),
    }
    # file-size metrics (reference asserts these on every snapshot:
    # test_snapshot_summary_file_size_metrics.test): added-files-size,
    # removed-files-size (only when files were removed), and a running
    # total-files-size = parent total + added - removed. The total is
    # carried only while the chain is unbroken — a parent written by a
    # foreign engine without the field would make any derived total a lie.
    added_bytes = sum(int(d.file_size_in_bytes or 0)
                      for d in (new_data_files or [])) \
        + sum(int(d.file_size_in_bytes or 0) for d in (new_delete_files or []))
    if added_bytes:
        summary["added-files-size"] = str(added_bytes)
    if removed_bytes:
        summary["removed-files-size"] = str(removed_bytes)
    parent_total = (prior.summary or {}).get("total-files-size") \
        if (keep_existing and prior is not None) else None
    if prior is None or not keep_existing:
        summary["total-files-size"] = str(added_bytes)
    elif parent_total is not None:
        summary["total-files-size"] = str(
            max(0, int(parent_total) + added_bytes - removed_bytes))
    # delete-file metrics (reference asserts them per snapshot:
    # test_snapshot_summary_delete_metrics.test): exact added-* counts
    # from this commit's delete files; total-delete-files from manifest
    # counts; per-kind running totals carried from the parent summary,
    # dropped when delete files were removed/superseded this commit (the
    # removed cardinality isn't re-read) or the parent lacks the key
    new_pos = [d for d in (new_delete_files or [])
               if d.content == mf.CONTENT_POSITION_DELETES]
    new_eq = [d for d in (new_delete_files or [])
              if d.content == mf.CONTENT_EQUALITY_DELETES]
    summary["total-delete-files"] = str(
        sum(m.added_files_count + m.existing_files_count
            for m in manifests if m.content == mf.MANIFEST_DELETES))
    if new_delete_files:
        summary["added-delete-files"] = str(len(new_delete_files))
    if new_pos:
        summary["added-position-delete-files"] = str(len(new_pos))
        summary["added-position-deletes"] = str(
            sum(int(d.record_count or 0) for d in new_pos))
    if new_eq:
        summary["added-equality-delete-files"] = str(len(new_eq))
        summary["added-equality-deletes"] = str(
            sum(int(d.record_count or 0) for d in new_eq))
    deletes_removed = bool(removed_delete_paths) or bool(superseded_dv_refs)
    for kind, new_kind in (("position", new_pos), ("equality", new_eq)):
        key = f"total-{kind}-deletes"
        parent_v = (prior.summary or {}).get(key) \
            if (keep_existing and prior is not None) else None
        added_n = sum(int(d.record_count or 0) for d in new_kind)
        if prior is None or not keep_existing:
            summary[key] = str(added_n)
        elif parent_v is not None and not deletes_removed:
            summary[key] = str(int(parent_v) + added_n)
    if snap_first_row_id is not None and tm.next_row_id - snap_first_row_id != added_rows:
        # v2->v3 upgrade first commit: retroactive assignment claimed row
        # ids for carried manifests too, so the range is wider than
        # added-records. Surface it (summaries are free-form) — a catalog
        # deriving next-row-id from added-records alone would under-count
        # and hand the same ids to the next writer.
        summary["assigned-rows"] = str(tm.next_row_id - snap_first_row_id)
    summary.update(extra_summary or {})
    return Snapshot(
        snapshot_id=snapshot_id,
        parent_snapshot_id=parent,
        sequence_number=seq,
        timestamp_ms=int(_time.time() * 1000),
        manifest_list=ml_path,
        summary=summary,
        schema_id=tm.current_schema_id,
        first_row_id=snap_first_row_id,
    )


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

def write_iceberg(
    df: DataFrame,
    location: str,
    *,
    mode: str = "append",  # append | overwrite | error (create-if-absent always)
    partition_by: Iterable[str] | None = None,
    sort_by=None,
    properties: dict[str, str] | None = None,
    format_version: int = 2,
    snapshot_properties: dict[str, str] | None = None,
    branch: str | None = None,
) -> TableMetadata:
    """COPY (query) TO 'path' (FORMAT ICEBERG) analogue
    (reference: iceberg_copy_function.cpp:11-31): write parquet + author
    metadata at a bare filesystem path, creating the table if needed.
    ``snapshot_properties`` land in the snapshot summary (cf. the
    reference's snapshot_property.* named params). ``branch`` stages the
    commit on a branch ref instead of main (Write-Audit-Publish: audit
    via ``iceberg_scan(..., ref=branch)``, publish via
    :func:`~duckdb_iceberg_spark.sources.ddl.fast_forward`)."""
    spark = df.sparkSession
    tm = None
    if current_version_number(location) == 0:
        try:
            tm = create_table(
                location, df.schema, partition_by=partition_by,
                sort_by=sort_by, properties=properties,
                format_version=format_version,
            )
        except FileExistsError:
            pass  # another writer created it first: write into theirs
    overwrite = tm is None and mode == "overwrite"
    if tm is None:
        if mode == "error":
            raise FileExistsError(
                f"iceberg table already exists at {location}")
        tm = load_table_metadata(location)
    table = FileTable(location, tm)
    data_files, _root = write_data_files(spark, df, tm)
    op = "overwrite" if overwrite else "append"
    commit_snapshot(tm, operation=op, new_data_files=data_files,
                    keep_existing=not overwrite,
                    extra_summary=snapshot_properties,
                    commit_fn=committer(table, op), branch=branch)
    return table.metadata
