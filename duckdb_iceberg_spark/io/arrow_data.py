"""Object-store data plane: parquet read/write for schemes Spark's own
Hadoop connectors can't reach in this deployment.

Branching contract (used by sources/scan.py, sources/writer.py,
sources/dml.py):

- **Spark-native paths** (local, ``file://``, ``hdfs://``, plus anything the
  operator lists in ``spark.duckdb_iceberg.nativeSchemes`` because the
  cluster carries the matching connector jars, e.g. ``s3a`` with hadoop-aws)
  stay on ``spark.read.parquet`` / ``df.write.parquet`` — whole-stage
  codegen, vectorized reader, native pushdown. ``s3://`` is rewritten to
  ``s3a://`` when s3a is declared native.

- **Everything else** goes through pyarrow on the executors: reads via
  ``mapInArrow`` over the file list (each task opens only its own files with
  ranged GETs — the same shape as the reference's direct S3 reader), writes
  via ``mapInArrow`` partitions streaming parquet bytes to the store.
  Arrow-level fidelity end to end; no pandas round trip.

- A FileIO that other processes cannot see (the in-memory mock used in
  tests) or a tiny file count short-circuits to driver-side pyarrow — same
  code, no job launch.
"""

from __future__ import annotations

import os
import posixpath
import uuid as _uuid
from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession

from . import FileIO, get_io, io_from_storage_options, parse_uri

#: at or below this many files a remote read happens on the driver — the
#: session-startup cost of a Spark job dwarfs a handful of GETs
_DRIVER_READ_MAX_FILES = 8

_DEFAULT_NATIVE = {"", "file", "hdfs"}
_NATIVE_CONF = "spark.duckdb_iceberg.nativeSchemes"


def native_schemes(spark: SparkSession) -> set[str]:
    extra = spark.conf.get(_NATIVE_CONF, "")
    out = set(_DEFAULT_NATIVE)
    out.update(s.strip() for s in (extra or "").split(",") if s.strip())
    env = os.environ.get("DUCKDB_ICEBERG_NATIVE_SCHEMES", "")
    out.update(s.strip() for s in env.split(",") if s.strip())
    return out


def is_spark_native(spark: SparkSession, paths: Iterable[str]) -> bool:
    nat = native_schemes(spark)
    for p in paths:
        scheme, _ = parse_uri(p)
        if scheme == "s3" and "s3a" in nat:
            continue
        if scheme not in nat:
            return False
    return True


def to_native_path(path: str) -> str:
    """s3:// → s3a:// for Hadoop-native access (call only when native)."""
    if path.startswith("s3://"):
        return "s3a://" + path[len("s3://"):]
    return path


# ---------------------------------------------------------------------------
# read
# ---------------------------------------------------------------------------

def _target_arrow_schema(spark_schema):
    """Arrow schema for the read target, carrying every field's
    ``parquet.field.id`` (as parquet's ``PARQUET:field_id`` key) down
    through nested structs so ``_read_one`` can resolve renamed columns —
    top-level AND struct members — by id like the JVM reader."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    def annotate(af: pa.Field, st, meta) -> pa.Field:
        at = af.type
        if pa.types.is_struct(at) and isinstance(st, T.StructType):
            at = pa.struct([
                annotate(at.field(i), st.fields[i].dataType,
                         st.fields[i].metadata)
                for i in range(at.num_fields)])
        elif (pa.types.is_list(at) or pa.types.is_large_list(at)) \
                and isinstance(st, T.ArrayType):
            value = annotate(at.value_field, st.elementType, None)
            at = (pa.large_list(value) if pa.types.is_large_list(at)
                  else pa.list_(value))
        elif pa.types.is_map(at) and isinstance(st, T.MapType):
            at = pa.map_(annotate(at.key_field, st.keyType, None),
                         annotate(at.item_field, st.valueType, None))
        af = pa.field(af.name, at, af.nullable)
        fid = (meta or {}).get("parquet.field.id")
        if fid is not None:
            af = af.with_metadata({b"PARQUET:field_id": str(int(fid)).encode()})
        return af

    arrow = to_arrow_schema(spark_schema)
    return pa.schema([
        annotate(arrow.field(i), spark_schema.fields[i].dataType,
                 spark_schema.fields[i].metadata)
        for i in range(len(arrow))])


def _avro_branch(schema):
    """Unwrap a union to its non-null branch (Iceberg-Avro unions are
    ``["null", X]``) and ``{"type": {...}}`` wrappers."""
    if isinstance(schema, list):
        for b in schema:
            if b != "null" and not (isinstance(b, dict)
                                    and b.get("type") == "null"):
                return _avro_branch(b)
        return "null"
    if isinstance(schema, dict) and isinstance(schema.get("type"),
                                               (dict, list)):
        return _avro_branch(schema["type"])
    return schema


def _avro_values_to_arrow(vals: list, t, src_schema=None):
    """Decoded Avro values (ints/longs/floats/strings/bytes/None — the
    Iceberg-Avro physical forms) → one arrow array of the target type.
    date arrives as int days, time/timestamp as long micros (arrow
    interprets bare ints for those types exactly so), decimal as
    big-endian two's-complement unscaled bytes.

    Nested types (r13, VERDICT r12 task 4 — foreign Flink/legacy Avro
    tables carry structs): records recurse with the same BY-FIELD-ID
    member resolution as the parquet plane (Iceberg-Avro record fields
    carry ``field-id``; a renamed member keeps reading old files, an
    added member null-fills), arrays flatten to offsets + a recursively
    converted child, and maps handle both Avro's string-keyed ``map``
    and Iceberg's array-of-key/value-records encoding for non-string
    keys (``logicalType: map``)."""
    import pyarrow as pa

    src = _avro_branch(src_schema) if src_schema is not None else None

    if pa.types.is_struct(t):
        sfields = (src or {}).get("fields", []) if isinstance(src, dict) \
            else []
        by_id = {int(ff["field-id"]): ff for ff in sfields
                 if ff.get("field-id") is not None}
        by_name = {ff["name"]: ff for ff in sfields}
        mask = pa.array([v is None for v in vals], type=pa.bool_())
        arrays, fields = [], []
        for i in range(t.num_fields):
            tf = t.field(i)
            fid = _field_id(tf)
            sf = by_id.get(fid) if (fid is not None and by_id) \
                else by_name.get(tf.name)
            if sf is None:
                arrays.append(pa.nulls(len(vals), tf.type))
            else:
                child = [None if v is None else v.get(sf["name"])
                         for v in vals]
                arrays.append(_avro_values_to_arrow(
                    child, tf.type, sf["type"]))
            fields.append(tf)
        return pa.StructArray.from_arrays(arrays, fields=fields, mask=mask)

    if pa.types.is_list(t) or pa.types.is_large_list(t):
        items = (src or {}).get("items") if isinstance(src, dict) else None
        offsets: list = []
        flat: list = []
        cur = 0
        for v in vals:
            if v is None:
                offsets.append(None)
            else:
                offsets.append(cur)
                flat.extend(v)
                cur += len(v)
        offsets.append(cur)
        child = _avro_values_to_arrow(flat, t.value_type, items)
        off_t = pa.int64() if pa.types.is_large_list(t) else pa.int32()
        cls = (pa.LargeListArray if pa.types.is_large_list(t)
               else pa.ListArray)
        return cls.from_arrays(pa.array(offsets, type=off_t), child).cast(t)

    if pa.types.is_map(t):
        keys: list = []
        items: list = []
        offsets = []
        cur = 0
        if isinstance(src, dict) and src.get("type") == "array":
            # Iceberg's non-string-key map encoding: array of {key, value}
            # records — decoded as lists of dicts
            item_rec = _avro_branch(src.get("items"))
            rec_fields = {ff["name"]: ff
                          for ff in (item_rec or {}).get("fields", [])}
            key_schema = (rec_fields.get("key") or {}).get("type")
            val_schema = (rec_fields.get("value") or {}).get("type")
            for v in vals:
                if v is None:
                    offsets.append(None)
                else:
                    offsets.append(cur)
                    for e in v:
                        keys.append(e.get("key"))
                        items.append(e.get("value"))
                    cur += len(v)
        else:
            # plain Avro map: string keys, decoded as dicts
            key_schema = "string"
            val_schema = (src or {}).get("values") \
                if isinstance(src, dict) else None
            for v in vals:
                if v is None:
                    offsets.append(None)
                else:
                    offsets.append(cur)
                    for k, mv in v.items():
                        keys.append(k)
                        items.append(mv)
                    cur += len(v)
        offsets.append(cur)
        key_arr = _avro_values_to_arrow(keys, t.key_type, key_schema)
        item_arr = _avro_values_to_arrow(items, t.item_type, val_schema)
        return pa.MapArray.from_arrays(
            pa.array(offsets, type=pa.int32()), key_arr, item_arr).cast(t)

    if pa.types.is_decimal(t):
        from decimal import Decimal

        s = t.scale
        vals = [None if v is None else
                Decimal(int.from_bytes(bytes(v), "big", signed=True))
                .scaleb(-s) for v in vals]
    if pa.types.is_time64(t) and t.unit == "ns":
        # avro time-micros arrives as bare µs longs, but Spark's
        # TimeType surfaces as arrow time64[ns] — scale or the value
        # reads 1000x small (r15)
        vals = [None if v is None else int(v) * 1000 for v in vals]
    if (pa.types.is_string(t) or pa.types.is_large_string(t)) \
            and isinstance(src, dict) and src.get("logicalType") == "uuid":
        # iceberg uuid: avro fixed(16) bytes → canonical string, same
        # rendering as the parquet FLBA(16) branch (r15 — write side
        # now emits these)
        vals = [None if v is None else str(_uuid.UUID(bytes=bytes(v)))
                for v in vals]
    return pa.array(vals, type=t)


def _read_one(fs_io: FileIO, path: str, target, file_format: str = "parquet",
              path_pos: Optional[tuple[str, str]] = None):
    """Read one parquet/ORC/Avro file through the FileIO into an arrow
    table cast to the target schema — only the target's columns are
    fetched for parquet (column pruning → ranged GETs of just those
    column chunks); missing columns become nulls, matching Spark's
    read-with-schema semantics. ORC resolves by NAME (pyarrow surfaces no
    iceberg.id attributes), the same contract as the Spark-native ORC
    branch; Avro resolves BY FIELD ID first (Iceberg-Avro schemas carry
    ``field-id`` per field), exact name otherwise — renamed columns keep
    reading old Avro files like they do parquet ones. ``path_pos`` names
    two columns to append: the file's path as given and each row's
    position in the file."""
    import pyarrow as pa

    if file_format == "avro":
        from ..metadata import avro_io

        schema, _meta, records = avro_io.read_avro_file(
            fs_io.read_bytes(path))
        fields = schema.get("fields", []) if isinstance(schema, dict) else []
        by_id = {int(ff["field-id"]): ff
                 for ff in fields if ff.get("field-id") is not None}
        by_name = {ff["name"]: ff for ff in fields}
        n = len(records)
        cols = []
        for f in target:
            tid = _field_id(f)
            src = None
            if tid is not None and by_id:
                src = by_id.get(int(tid))
            elif f.name in by_name:
                src = by_name[f.name]
            if src is None:
                cols.append(pa.nulls(n, f.type))
                continue
            cols.append(_avro_values_to_arrow(
                [r.get(src["name"]) for r in records], f.type, src["type"]))

    elif file_format == "orc":
        import pyarrow.orc as po

        of = po.ORCFile(_open_arrow_input(fs_io, path))
        # by-name resolution only — no field-id layer exists for ORC
        present = set(of.schema.names) & {f.name for f in target}
        if present:
            tbl = of.read(columns=sorted(present))
            n = len(tbl)
        else:
            # ORCFile.read(columns=[]) returns ZERO rows (pyarrow 16.1),
            # unlike parquet which preserves num_rows — all-renamed/
            # foreign files must still yield N all-null rows like the
            # Spark-native ORC branch does (r11 review)
            tbl, n = None, of.nrows
        cols = []
        for f in target:
            if tbl is not None and f.name in present:
                cols.append(_align_column(tbl.column(f.name), f))
            else:
                cols.append(pa.nulls(n, f.type))
    else:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(_open_arrow_input(fs_io, path))
        file_schema = pf.schema_arrow
        # resolve target -> file column: field id first (BY_FIELD_ID, so
        # renamed columns keep reading old files — same contract as the JVM
        # reader), exact name otherwise. Exact top-level names stay unambiguous
        # here even when a field name literally contains a dot (parquet-mr's
        # dotted ColumnPath ambiguity doesn't exist on the arrow plane).
        by_id = {}
        for ff in file_schema:
            fid = (ff.metadata or {}).get(b"PARQUET:field_id")
            if fid is not None:
                by_id[int(fid)] = ff.name
        src_of = {}
        for f in target:
            tid = (f.metadata or {}).get(b"PARQUET:field_id")
            if tid is not None and by_id:
                # id-only when the file carries ids: a dropped+re-added name
                # must NOT resurrect the old column's values
                if int(tid) in by_id:
                    src_of[f.name] = by_id[int(tid)]
            elif f.name in file_schema.names:
                src_of[f.name] = f.name
        tbl = pf.read(columns=sorted(set(src_of.values())))
        cols = []
        for f in target:
            if f.name in src_of:
                cols.append(_align_column(tbl.column(src_of[f.name]), f))
            else:
                cols.append(pa.nulls(len(tbl), f.type))
    t = pa.Table.from_arrays(cols, schema=target)
    if path_pos:
        t = t.append_column(
            path_pos[0], pa.array([path] * len(t), pa.string())
        ).append_column(path_pos[1], pa.array(range(len(t)), pa.int64()))
    return t


def _field_id(field) -> int | None:
    v = (field.metadata or {}).get(b"PARQUET:field_id")
    return int(v) if v is not None else None


def _align_column(col, tgt_field):
    """Recursively align a file column to the target field: struct members
    resolve BY FIELD ID first (so renamed members keep reading old files —
    the JVM reader's contract), exact name otherwise; members added since
    the file was written null-fill; primitives cast (incl. uuid rendering).
    All columnar arrow ops — no per-row Python outside the uuid edge."""
    import pyarrow as pa

    tgt_t = tgt_field.type
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col

    if pa.types.is_struct(tgt_t):
        if not pa.types.is_struct(arr.type):
            return pa.nulls(len(arr), tgt_t)
        src_t = arr.type
        by_id = {}
        by_name = {}
        for i in range(src_t.num_fields):
            sf = src_t.field(i)
            fid = _field_id(sf)
            if fid is not None:
                by_id[fid] = i
            by_name[sf.name] = i
        members = []
        for j in range(tgt_t.num_fields):
            tf = tgt_t.field(j)
            fid = _field_id(tf)
            # BY_FIELD_ID whenever the file level carries ids (a dropped+
            # re-added name must NOT resurrect the old column's values);
            # name matching only for foreign files written without ids
            if fid is not None and by_id:
                idx = by_id.get(fid)
            else:
                idx = by_name.get(tf.name)
            if idx is None:
                members.append(pa.nulls(len(arr), tf.type))
            else:
                members.append(_align_column(arr.field(idx), tf))
        mask = arr.is_null() if arr.null_count else None
        return pa.StructArray.from_arrays(
            members, fields=[tgt_t.field(j) for j in range(tgt_t.num_fields)],
            mask=mask)

    if pa.types.is_list(tgt_t) or pa.types.is_large_list(tgt_t):
        if not (pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)):
            return pa.nulls(len(arr), tgt_t)
        values = _align_column(arr.values, tgt_t.value_field)
        mask = arr.is_null() if arr.null_count else None
        make = (pa.LargeListArray if pa.types.is_large_list(tgt_t)
                else pa.ListArray)
        offsets = arr.offsets
        if pa.types.is_large_list(arr.type) != pa.types.is_large_list(tgt_t):
            offsets = offsets.cast(
                pa.int64() if pa.types.is_large_list(tgt_t) else pa.int32())
        return make.from_arrays(offsets, values, mask=mask)

    if pa.types.is_map(tgt_t):
        if not pa.types.is_map(arr.type):
            return pa.nulls(len(arr), tgt_t)
        keys = _align_column(arr.keys, tgt_t.key_field)
        items = _align_column(arr.items, tgt_t.item_field)
        offsets = arr.offsets
        if arr.null_count:
            # MapArray.from_arrays has no mask kwarg; null entries are
            # encoded as null OFFSETS instead (python loop over offsets
            # only — bounded by row count, rare path)
            off = offsets.to_pylist()
            nulls = arr.is_null().to_pylist()
            offsets = pa.array(
                [None if i < len(nulls) and nulls[i] else off[i]
                 for i in range(len(off))], offsets.type)
        return pa.MapArray.from_arrays(offsets, keys, items)

    return _cast_column(arr, tgt_t)


def _cast_column(col, target_type):
    """Arrow cast with the uuid special case: parquet stores uuid as
    FIXED_LEN_BYTE_ARRAY(16), which arrow cannot cast to string — render
    the canonical lowercase-hyphenated form instead (the scan's JVM path
    does the same via hex/concat_ws; sources/scan.py _uuid_fmt). Nested
    uuid inside structs stays unsupported on the arrow plane."""
    import pyarrow as pa

    st = col.type
    if (pa.types.is_string(target_type)
            and (pa.types.is_fixed_size_binary(st)
                 or pa.types.is_binary(st) or pa.types.is_large_binary(st))):
        # uuid rendering keys off the STORAGE type, never the value length:
        # Iceberg uuid is parquet FIXED_LEN_BYTE_ARRAY(16); a plain
        # variable-width binary column cast to string (e.g. a foreign
        # writer's string stored without UTF8 annotation) must utf8-decode
        # even when a value happens to be exactly 16 bytes — hyphenating it
        # would silently corrupt the value.
        is_uuid = pa.types.is_fixed_size_binary(st) and st.byte_width == 16
        if is_uuid:
            import uuid as _u

            vals = [None if v is None else str(_u.UUID(bytes=v))
                    for v in col.to_pylist()]
        else:
            vals = [None if v is None else v.decode("utf-8", errors="replace")
                    for v in col.to_pylist()]
        # a plain Array, not a ChunkedArray: struct members feed
        # StructArray.from_arrays, which rejects chunked input
        return pa.array(vals, pa.string())
    return col.cast(target_type)


def _open_arrow_input(fs_io: FileIO, path: str):
    """A seekable file handle pyarrow can read, via the FileIO."""
    from . import ArrowFileIO, LocalFileIO

    if isinstance(fs_io, ArrowFileIO):
        return fs_io.fs.open_input_file(fs_io._p(path))
    if isinstance(fs_io, LocalFileIO):
        return path if not path.startswith("file://") else path[len("file://"):]
    import io as _io

    return _io.BytesIO(fs_io.read_bytes(path))


def _relax_nullability(dt):
    """Recursively mark every field nullable (struct members, list
    elements, map values)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _relax_nullability(f.dataType), True,
                          f.metadata)
            for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_relax_nullability(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_relax_nullability(dt.keyType),
                         _relax_nullability(dt.valueType), True)
    return dt


def read_parquet(
    spark: SparkSession,
    files: list[str],
    spark_schema,
    *,
    with_path_pos: bool = False,
    path_col: str = "__src_file",
    pos_col: str = "__src_pos",
    file_format: str = "parquet",
) -> DataFrame:
    """Read remote parquet (or, with ``file_format='orc'``, ORC) files
    into a DataFrame with the given Spark schema; optionally append
    (file path, row position) columns — the arrow analogue of
    ``_metadata.file_path`` / ``row_index`` (and for ORC the ONLY row
    positions available anywhere: Spark's native ORC source has no
    row_index)."""
    import pyarrow as pa

    from pyspark.sql import types as T

    target = _target_arrow_schema(spark_schema)
    out_schema = spark_schema
    if with_path_pos:
        out_schema = T.StructType(
            list(spark_schema.fields)
            + [T.StructField(path_col, T.StringType(), False),
               T.StructField(pos_col, T.LongType(), False)])
    # hand Spark a fully-NULLABLE schema: its arrow-table ingestion
    # (_check_arrow_table_timestamps_localize) rebuilds struct columns
    # losing child non-nullability, then fails casting back to a
    # non-nullable type (observed with struct members whose names contain
    # dots). Nullability is advisory on the read path.
    out_schema = _relax_nullability(out_schema)
    out_target = _target_arrow_schema(out_schema)

    path_pos = (path_col, pos_col) if with_path_pos else None
    io0 = get_io(files[0])
    if not io0.shippable or len(files) <= _DRIVER_READ_MAX_FILES:
        tables = [_read_one(get_io(f), f, target, file_format, path_pos)
                  .cast(out_target) for f in sorted(files)]
        merged = (pa.concat_tables(tables) if tables
                  else out_target.empty_table())
        return spark.createDataFrame(merged, schema=out_schema)

    opts = io0.storage_options()
    meta = spark.createDataFrame([(f,) for f in sorted(files)], "__path: string")
    meta = meta.repartition(min(len(files), 256), "__path")

    def gen(batches):
        fs_io = io_from_storage_options(opts)
        for batch in batches:
            for f in batch.column("__path").to_pylist():
                t = _read_one(fs_io, f, target, file_format, path_pos)
                for b in t.cast(out_target).to_batches():
                    yield b

    return meta.mapInArrow(gen, out_schema)


def infer_spark_schema(path: str):
    """Spark StructType from a parquet file's footer, via the FileIO."""
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import from_arrow_schema

    sch = pq.read_schema(_open_arrow_input(get_io(path), path))
    return from_arrow_schema(sch, prefer_timestamp_ntz=True)


# ---------------------------------------------------------------------------
# write
# ---------------------------------------------------------------------------

def _schema_with_field_ids(arrow_schema, spark_schema):
    """Attach PARQUET:field_id metadata from the Spark schema's column
    metadata (set by the writer's _with_field_id_metadata) onto the arrow
    schema, so files written through pyarrow carry proper Iceberg ids."""
    import pyarrow as pa

    from ..metadata import types as ice_types

    fields = []
    for i, f in enumerate(arrow_schema):
        sf = spark_schema.fields[i]
        md = dict(f.metadata or {})
        fid = (sf.metadata or {}).get(ice_types.FIELD_ID_KEY)
        if fid is not None:
            md[b"PARQUET:field_id"] = str(int(fid)).encode()
        fields.append(pa.field(f.name, f.type, f.nullable, md or None))
    return pa.schema(fields)


def _write_shard(fs_io: FileIO, out_dir: str, tbl, compression: str,
                 shard: str) -> tuple[str, int]:
    """Write one parquet shard via the FileIO; returns (path, size)."""
    import io as _io

    import pyarrow.parquet as pq

    buf = _io.BytesIO()
    pq.write_table(tbl, buf, compression=compression)
    data = buf.getvalue()
    path = posixpath.join(out_dir, f"part-{shard}.parquet")
    fs_io.write_bytes(path, data)
    return path, len(data)


def _hive_dir(out_dir: str, tbl, partition_cols: list[str], row: int) -> str:
    import urllib.parse

    comps = []
    for c in partition_cols:
        v = tbl.column(c)[row].as_py()
        sval = "__HIVE_DEFAULT_PARTITION__" if v is None else urllib.parse.quote(
            str(v), safe="")
        comps.append(f"{c}={sval}")
    return posixpath.join(out_dir, *comps)


def write_parquet(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    *,
    compression: str = "zstd",
    partition_cols: Optional[list[str]] = None,
) -> list[str]:
    """Write a DataFrame as parquet files under ``out_dir`` through the
    FileIO (hive-style ``k=v/`` dirs for partition columns, matching what
    ``df.write.partitionBy`` produces so downstream partition-value parsing
    is identical). Returns the written file paths."""
    import pyarrow as pa

    part_cols = list(partition_cols or [])
    io0 = get_io(out_dir)

    def write_tables(fs_io: FileIO, tbl: "pa.Table", shard: str) -> list[str]:
        """Split one arrow table by partition values and write shards."""
        out: list[str] = []
        if not len(tbl):
            return out
        if not part_cols:
            p, _ = _write_shard(fs_io, out_dir, tbl, compression, shard)
            return [p]
        import pyarrow.compute as pc

        keys = pa.Table.from_arrays(
            [tbl.column(c) for c in part_cols], names=part_cols)
        # group rows by partition tuple
        idx: dict[tuple, list[int]] = {}
        pylists = [keys.column(c).to_pylist() for c in part_cols]
        for r in range(len(tbl)):
            idx.setdefault(tuple(pl[r] for pl in pylists), []).append(r)
        data_cols = [c for c in tbl.column_names if c not in part_cols]
        for gi, (key, rows) in enumerate(sorted(idx.items(),
                                                key=lambda kv: str(kv[0]))):
            sub = tbl.take(pa.array(rows, pa.int64()))
            d = _hive_dir(out_dir, sub, part_cols, 0)
            shard_tbl = sub.select(data_cols)
            p, _ = _write_shard(fs_io, d, shard_tbl, compression,
                                f"{shard}-{gi:04d}")
            out.append(p)
        return out

    spark_schema = df.schema
    arrow_schema = _schema_with_field_ids(
        _target_arrow_schema(spark_schema), spark_schema)

    if not io0.shippable:
        tbl = df.toArrow().cast(arrow_schema)
        return sorted(write_tables(io0, tbl, str(_uuid.uuid4())[:8]))

    opts = io0.storage_options()

    def gen(batches):
        # one parquet file per Spark partition (plus one per hive partition
        # value within it) — not one per arrow batch
        fs_io = io_from_storage_options(opts)
        acc = [b for b in batches]
        if not acc:
            return
        tbl = pa.Table.from_batches(acc).cast(arrow_schema)
        written = write_tables(fs_io, tbl, str(_uuid.uuid4())[:12])
        yield pa.RecordBatch.from_arrays(
            [pa.array(written, pa.string())], names=["path"])

    paths = [r.path for r in df.mapInArrow(gen, "path string").collect()]
    return sorted(paths)
