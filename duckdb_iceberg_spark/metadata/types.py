"""Iceberg type system ↔ Spark type system.

Mirrors the reference's type parsing
(reference: src/core/metadata/schema/iceberg_column_definition.cpp:82-241)
with the Spark mappings documented in SURVEY.md §1.2:

- ``time``            → TimeType (Spark 4.1+, ``spark.sql.timeType.enabled`` —
  set by session.get_spark; real µs time-of-day with parquet TIME roundtrip);
  LongType (µs) + ``iceberg.type`` metadata tag on older Spark
- ``timestamp_ns``    → TimestampNTZType, truncated to µs (Spark is µs-only; the
  reference floors ns→µs for transforms too, iceberg_transform.hpp:118-127)
- ``uuid``            → StringType canonical form (bucket hashing uses raw 16 bytes)
- ``fixed[L]``/``binary``/``geometry`` → BinaryType
- ``unknown``         → NullType

Field-ids ride on ``StructField.metadata['parquet.field.id']`` which Spark's
parquet writer/reader honors when ``spark.sql.parquet.fieldId.{read,write}.enabled``
is set (the load-bearing config for schema evolution, SURVEY.md §1.2).

Also implements the Iceberg spec's single-value *binary* serialization used in
manifest lower/upper bounds (reference reads these in
src/include/core/metadata/manifest/iceberg_manifest.hpp:54-145) and the JSON
single-value form used by ``initial-default``/``write-default``.
"""

from __future__ import annotations

import contextlib as _contextlib
import datetime as _dt
import math
import re
import struct
import threading as _threading
import uuid as _uuid
from decimal import Context, Decimal

#: iceberg decimals go up to 38 digits; the DEFAULT decimal context (prec=28)
#: silently ROUNDS during scaleb/division — always pass this context
DEC38 = Context(prec=60)
from typing import Any

from pyspark.sql import types as T

FIELD_ID_KEY = "parquet.field.id"


def quoted_col(name: str):
    """Top-level Spark Column reference by EXACT name: Iceberg field names
    may legally contain dots, and an unquoted ``F.col("a.b")`` resolves as
    a struct path (and renames the output to the leaf). Backtick-quote so
    a column literally named ``a.b`` survives selection. Routed through
    the memoized functions.col handle (r16, jrpc.jcol): ``F.col`` pays ~9
    py4j round-trips per call, this pays 1."""
    from ..jrpc import jcol

    return jcol("`" + name.replace("`", "``") + "`")
ICEBERG_TYPE_KEY = "iceberg.type"

_DECIMAL_RE = re.compile(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)")
_FIXED_RE = re.compile(r"fixed\[(\d+)\]")

_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_TS = _dt.datetime(1970, 1, 1)
_EPOCH_TS_TZ = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)

#: Spark 4.1+ ships a real TIME type in the library (flag-gated at runtime).
_TIME_TYPE_IN_LIB = hasattr(T, "TimeType")


#: planning-pass pin for time_type_available — THREAD-LOCAL so concurrent
#: plan_scan calls (streaming microbatches vs user scans) never read each
#: other's snapshot (r11 review)
_TIME_FLAG_PIN = _threading.local()


@_contextlib.contextmanager
def pinned_time_flag():
    """Context manager pinning time_type_available() for one planning
    pass: the probe runs per decoded bound in planning loops (O(files)
    calls) and each uncached call is a py4j conf.get round trip (r11
    review) — but the flag may legitimately be toggled BETWEEN passes
    (pinned by test_time_mapping_degrades_when_session_flag_off), so the
    snapshot lives only as long as the pass, per thread. The probe runs
    on first use, so a pass that decodes no ``time`` value pays none."""
    stack = getattr(_TIME_FLAG_PIN, "stack", None)
    if stack is None:
        stack = _TIME_FLAG_PIN.stack = []
    stack.append(None)
    try:
        yield
    finally:
        stack.pop()


def time_type_available() -> bool:
    """Whether Iceberg ``time`` may map to Spark's real ``TimeType`` RIGHT
    NOW. Two gates (ADVICE r10): the library must ship ``T.TimeType``
    (Spark 4.1+), AND the ACTIVE session must have
    ``spark.sql.timeType.enabled`` on — ``get_spark`` sets it, but a
    user-supplied session without the flag would fail at analysis on a
    TimeType schema, so such sessions degrade to the tagged-Long µs
    mapping that worked pre-4.1. With no active session (metadata-only
    paths), library capability decides, matching get_spark's default."""
    stack = getattr(_TIME_FLAG_PIN, "stack", None)
    if stack:
        if stack[-1] is None:
            stack[-1] = _probe_time_type()
        return stack[-1]
    return _probe_time_type()


def _probe_time_type() -> bool:
    if not _TIME_TYPE_IN_LIB:
        return False
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
    except Exception:
        s = None
    if s is None:
        return True
    try:
        return str(s.conf.get("spark.sql.timeType.enabled", "false")) \
            .lower() == "true"
    except Exception:
        return True


def time_to_micros(v: Any) -> int:
    """datetime.time (or already-µs int) → µs since midnight."""
    if isinstance(v, _dt.time):
        return ((v.hour * 60 + v.minute) * 60
                + v.second) * 1_000_000 + v.microsecond
    return int(v)


def micros_to_time(us: int) -> "_dt.time":
    s, us_rem = divmod(int(us), 1_000_000)
    h, rem = divmod(s, 3600)
    m, sec = divmod(rem, 60)
    return _dt.time(h, m, sec, us_rem)


def is_primitive(t: Any) -> bool:
    return isinstance(t, str)


def primitive_name(t: str) -> str:
    """Normalize a primitive type string to its family name."""
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith("fixed"):
        return "fixed"
    if t.startswith("geometry") or t.startswith("geography"):
        return "geometry"
    return t


def decimal_precision_scale(t: str) -> tuple[int, int]:
    m = _DECIMAL_RE.match(t)
    if not m:
        raise ValueError(f"bad decimal type {t}")
    return int(m.group(1)), int(m.group(2))


# ---------------------------------------------------------------------------
# Iceberg type JSON → Spark DataType
# ---------------------------------------------------------------------------

def iceberg_to_spark(t: Any) -> T.DataType:
    if isinstance(t, str):
        name = primitive_name(t)
        if name == "boolean":
            return T.BooleanType()
        if name == "int":
            return T.IntegerType()
        if name == "long":
            return T.LongType()
        if name == "float":
            return T.FloatType()
        if name == "double":
            return T.DoubleType()
        if name == "decimal":
            p, s = decimal_precision_scale(t)
            return T.DecimalType(p, s)
        if name == "date":
            return T.DateType()
        if name == "time":
            if time_type_available():
                return T.TimeType()  # µs time-of-day (Spark 4.1+)
            return T.LongType()  # µs since midnight; tagged via metadata
        if name == "timestamp" or name == "timestamp_ns":
            return T.TimestampNTZType()
        if name == "timestamptz" or name == "timestamptz_ns":
            return T.TimestampType()
        if name == "string":
            return T.StringType()
        if name == "uuid":
            return T.StringType()
        if name in ("fixed", "binary", "geometry"):
            return T.BinaryType()
        if name == "unknown":
            return T.NullType()
        if name == "variant":
            vt = getattr(T, "VariantType", None)
            return vt() if vt is not None else T.StringType()
        raise ValueError(f"unknown iceberg primitive {t!r}")

    tt = t["type"]
    if tt == "struct":
        return T.StructType([nested_field_to_spark(f) for f in t["fields"]])
    if tt == "list":
        elem = iceberg_to_spark(t["element"])
        md = {FIELD_ID_KEY: t["element-id"]}
        # Spark ArrayType has no element metadata slot; element ids are
        # re-attached at write via schema reconstruction (writer.py).
        return T.ArrayType(elem, containsNull=not t.get("element-required", False))
    if tt == "map":
        return T.MapType(
            iceberg_to_spark(t["key"]),
            iceberg_to_spark(t["value"]),
            valueContainsNull=not t.get("value-required", False),
        )
    raise ValueError(f"unknown iceberg type {t!r}")


def nested_field_to_spark(f: dict) -> T.StructField:
    md: dict[str, Any] = {FIELD_ID_KEY: f["id"]}
    if isinstance(f["type"], str) and primitive_name(f["type"]) in (
        "time", "uuid", "timestamp_ns", "timestamptz_ns", "geometry", "fixed",
    ):
        md[ICEBERG_TYPE_KEY] = f["type"]
    if f.get("doc"):
        md["comment"] = f["doc"]
    return T.StructField(
        f["name"], iceberg_to_spark(f["type"]), nullable=not f.get("required", False), metadata=md
    )


def schema_to_struct(schema_json: dict) -> T.StructType:
    """Iceberg schema JSON ({"type":"struct","fields":[...]}) → StructType.

    Iceberg names are case-SENSITIVE but Spark's analyzer is not: a schema
    holding both ``user_id`` and ``uSeR_Id`` (legal Iceberg, written by
    case-sensitive engines) would fail resolution. Mirror the reference's
    disambiguation (case_sensitive_names.test golden: second column surfaces
    as ``uSeR_Id_1``): append ``_N`` to later case-colliding names. Parquet
    field-id resolution keeps the read correct under the rename."""
    all_originals = {f["name"].lower() for f in schema_json["fields"]}
    fields = []
    seen: dict[str, int] = {}
    for f in schema_json["fields"]:
        sf = nested_field_to_spark(f)
        key = sf.name.lower()
        n = seen.get(key, 0)
        seen[key] = n + 1
        if n:
            # loop the suffix until the generated name collides with neither
            # an already-emitted name nor any ORIGINAL field name: a schema
            # holding user_id, uSeR_Id, and a genuine uSeR_Id_1 must not
            # produce two uSeR_Id_1 columns
            new = f"{sf.name}_{n}"
            while new.lower() in seen or new.lower() in all_originals:
                n += 1
                new = f"{sf.name}_{n}"
            seen[new.lower()] = 1
            sf = T.StructField(new, sf.dataType, sf.nullable, sf.metadata)
        fields.append(sf)
    return T.StructType(fields)


# ---------------------------------------------------------------------------
# Spark DataType → Iceberg type JSON (for table creation from DataFrames)
# ---------------------------------------------------------------------------

class _IdAllocator:
    def __init__(self, start: int = 0) -> None:
        self.last = start

    def next(self) -> int:
        self.last += 1
        return self.last


def spark_to_iceberg(dt: T.DataType, alloc: _IdAllocator) -> Any:
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.DateType):
        return "date"
    if _TIME_TYPE_IN_LIB and isinstance(dt, T.TimeType):
        return "time"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.TimestampType):
        return "timestamptz"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.NullType):
        return "unknown"
    vt = getattr(T, "VariantType", None)
    if vt is not None and isinstance(dt, vt):
        return "variant"  # v3 type (reference: iceberg_column_definition.cpp:142-144)
    if isinstance(dt, T.StructType):
        fields = []
        # allocate ids breadth-first like Iceberg's fresh-id assignment
        ids = [alloc.next() for _ in dt.fields]
        for fid, f in zip(ids, dt.fields):
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": spark_to_iceberg(f.dataType, alloc),
                }
            )
        return {"type": "struct", "fields": fields}
    if isinstance(dt, T.ArrayType):
        eid = alloc.next()
        return {
            "type": "list",
            "element-id": eid,
            "element": spark_to_iceberg(dt.elementType, alloc),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        kid = alloc.next()
        vid = alloc.next()
        return {
            "type": "map",
            "key-id": kid,
            "key": spark_to_iceberg(dt.keyType, alloc),
            "value-id": vid,
            "value": spark_to_iceberg(dt.valueType, alloc),
            "value-required": not dt.valueContainsNull,
        }
    raise ValueError(f"cannot map spark type {dt} to iceberg")


def struct_to_schema_json(st: T.StructType, schema_id: int = 0) -> tuple[dict, int]:
    """Assign fresh field-ids (respecting existing ``parquet.field.id``
    metadata when every field has one) and build Iceberg schema JSON.
    Returns (schema_json, last_column_id)."""
    alloc = _IdAllocator(0)
    have_ids = all(
        f.metadata and FIELD_ID_KEY in f.metadata for f in st.fields
    ) and len(st.fields) > 0
    fields = []
    if have_ids:
        max_id = 0
        for f in st.fields:
            fid = int(f.metadata[FIELD_ID_KEY])
            max_id = max(max_id, fid)
        alloc.last = max_id
        for f in st.fields:
            fid = int(f.metadata[FIELD_ID_KEY])
            ftype = (
                f.metadata.get(ICEBERG_TYPE_KEY)
                if f.metadata and f.metadata.get(ICEBERG_TYPE_KEY)
                else spark_to_iceberg(f.dataType, alloc)
            )
            fields.append(
                {"id": fid, "name": f.name, "required": not f.nullable, "type": ftype}
            )
    else:
        top_ids = [alloc.next() for _ in st.fields]
        for fid, f in zip(top_ids, st.fields):
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": spark_to_iceberg(f.dataType, alloc),
                }
            )
    return {"type": "struct", "schema-id": schema_id, "fields": fields}, alloc.last


def attach_field_ids(st: T.StructType, schema_json: dict) -> T.StructType:
    """Return a copy of ``st`` whose StructFields carry the field-ids from
    ``schema_json`` (matched by name, recursively for structs)."""
    by_name = {f["name"]: f for f in schema_json["fields"]}
    out = []
    for f in st.fields:
        ice = by_name.get(f.name)
        if ice is None:
            out.append(f)
            continue
        md = dict(f.metadata or {})
        md[FIELD_ID_KEY] = ice["id"]
        dt = f.dataType
        if isinstance(dt, T.StructType) and isinstance(ice["type"], dict) and ice["type"].get("type") == "struct":
            dt = attach_field_ids(dt, ice["type"])
        out.append(T.StructField(f.name, dt, f.nullable, metadata=md))
    return T.StructType(out)


# ---------------------------------------------------------------------------
# single-value serialization (manifest bounds)
# ---------------------------------------------------------------------------

def encode_bound(t: Any, v: Any) -> bytes | None:
    """Iceberg spec Appendix D single-value binary serialization."""
    if v is None:
        return None
    if not isinstance(t, str):
        return None  # no bounds for nested types
    name = primitive_name(t)
    if name == "boolean":
        return b"\x01" if v else b"\x00"
    if name == "int":
        return struct.pack("<i", int(v))
    if name == "time":
        return struct.pack("<q", time_to_micros(v))
    if name == "long":
        return struct.pack("<q", int(v))
    if name == "float":
        return struct.pack("<f", float(v))
    if name == "double":
        return struct.pack("<d", float(v))
    if name == "date":
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            v = (v - _EPOCH_DATE).days
        return struct.pack("<i", int(v))
    if name in ("timestamp", "timestamptz", "timestamp_ns", "timestamptz_ns"):
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                v = _ts_micros_tz(v)
            else:
                v = _ts_micros(v)
        return struct.pack("<q", int(v))
    if name == "string":
        return str(v).encode("utf-8")
    if name == "uuid":
        if isinstance(v, str):
            v = _uuid.UUID(v)
        return v.bytes if isinstance(v, _uuid.UUID) else bytes(v)
    if name in ("fixed", "binary", "geometry"):
        return bytes(v)
    if name == "decimal":
        _, s = decimal_precision_scale(t)
        unscaled = int(Decimal(v).scaleb(s, context=DEC38).to_integral_value())
        return _min_twos_complement(unscaled)
    return None


def _ts_micros(v: _dt.datetime) -> int:
    delta = v - _EPOCH_TS
    return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds


def _ts_micros_tz(v: _dt.datetime) -> int:
    delta = v - _EPOCH_TS_TZ
    return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds


def _min_twos_complement(n: int) -> bytes:
    length = max(1, (n.bit_length() + 8) // 8)  # +8 keeps the sign bit
    b = n.to_bytes(length, "big", signed=True)
    # strip redundant leading bytes
    while len(b) > 1 and (
        (b[0] == 0x00 and b[1] < 0x80) or (b[0] == 0xFF and b[1] >= 0x80)
    ):
        b = b[1:]
    return b


def decode_bound(t: Any, b: bytes | None) -> Any:
    """Inverse of encode_bound, returning driver-side Python values
    (datetime/date/Decimal) for pruning comparisons."""
    if b is None or not isinstance(t, str):
        return None
    b = bytes(b)
    name = primitive_name(t)
    if name == "boolean":
        return b != b"\x00"
    if name == "int":
        return struct.unpack("<i", b)[0]
    if name == "time":
        us = struct.unpack("<q", b)[0]
        return micros_to_time(us) if time_type_available() else us
    if name == "long":
        # type promotion: an int→long widened column keeps 4-byte bounds
        # written under the old type (spec Appendix D reader requirement)
        if len(b) == 4:
            return struct.unpack("<i", b)[0]
        return struct.unpack("<q", b)[0]
    if name == "float":
        return struct.unpack("<f", b)[0]
    if name == "double":
        # float→double promotion: accept 4-byte bounds (spec Appendix D)
        if len(b) == 4:
            return struct.unpack("<f", b)[0]
        return struct.unpack("<d", b)[0]
    if name == "date":
        return _EPOCH_DATE + _dt.timedelta(days=struct.unpack("<i", b)[0])
    if name in ("timestamp", "timestamp_ns"):
        return _EPOCH_TS + _dt.timedelta(microseconds=struct.unpack("<q", b)[0])
    if name in ("timestamptz", "timestamptz_ns"):
        return _EPOCH_TS_TZ + _dt.timedelta(microseconds=struct.unpack("<q", b)[0])
    if name == "string":
        return b.decode("utf-8", errors="replace")
    if name == "uuid":
        return str(_uuid.UUID(bytes=b))
    if name == "geometry":
        # geometry bounds are bounding-box corners (packed doubles, Iceberg
        # v3 Appendix D), not scalar min/max — returning them as comparable
        # values would let byte-order pruning drop files unsoundly. None =
        # "no stats" = never prune on geometry (the reference prunes only
        # through its geometry-aware expression stats,
        # iceberg_predicate.cpp:288). Use decode_geometry_bound to read the
        # box itself.
        return None
    if name in ("fixed", "binary"):
        return b
    if name == "decimal":
        _, s = decimal_precision_scale(t)
        return Decimal(int.from_bytes(b, "big", signed=True)).scaleb(-s, context=DEC38)
    return None


def decode_geometry_bound(b: bytes | None) -> dict | None:
    """Geometry lower/upper bound blob → bounding-box corner dict
    {x, y, z|None, m|None} (Iceberg v3 Appendix D: 2, 3, or 4 packed
    little-endian doubles; 3 doubles are always XYZ — an XYM writer pads Z
    with ±infinity, which decodes back to absent;
    reference: iceberg_data_file_stats.cpp:146-168)."""
    if b is None:
        return None
    b = bytes(b)
    if len(b) not in (16, 24, 32) :
        return None
    vals = list(struct.unpack(f"<{len(b) // 8}d", b))
    x, y = vals[0], vals[1]
    z = vals[2] if len(vals) >= 3 else None
    m = vals[3] if len(vals) == 4 else None
    if z is not None and math.isinf(z):
        z = None
    return {"x": x, "y": y, "z": z, "m": m}


# ---------------------------------------------------------------------------
# JSON single-value (column defaults)
# ---------------------------------------------------------------------------

def json_default_to_python(t: Any, v: Any) -> Any:
    """``initial-default``/``write-default`` JSON value → Python value suitable
    for F.lit() (reference: iceberg_column_definition.cpp:26-75)."""
    if v is None or not isinstance(t, str):
        return v
    name = primitive_name(t)
    if name == "date":
        return _dt.date.fromisoformat(v)
    if name == "time":
        t = _dt.time.fromisoformat(v)
        if time_type_available():
            return t
        # µs since midnight on pre-TimeType Spark (tagged-Long mapping)
        return time_to_micros(t)
    if name in ("timestamp", "timestamp_ns"):
        return _dt.datetime.fromisoformat(v)
    if name in ("timestamptz", "timestamptz_ns"):
        return _dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
    if name == "decimal":
        return Decimal(str(v))
    if name in ("fixed", "binary"):
        # JSON single-value serialization for binary/fixed is a hex string
        return bytes.fromhex(v)
    return v
