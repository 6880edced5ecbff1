"""Pure-Python Avro Object Container File reader/writer.

The reference reads manifest lists / manifests through its host's
``read_avro`` function (reference: src/planning/metadata_io/avro/avro_scan.cpp:25-55)
and writes them with an embedded Avro codec
(reference: src/core/metadata/iceberg_avro_codec.cpp). We are driver-side
Python with no fastavro available, so this module implements the small
subset of Avro 1.11 needed for Iceberg metadata:

- container format (magic ``Obj\\x01``, metadata map, sync markers, blocks)
- codecs: ``null`` and ``deflate`` (zlib raw)
- types: null, boolean, int, long (zigzag varint), float, double, bytes,
  string, fixed, enum, array, map, union, record

Decoding is *writer-schema driven*: each writer schema compiles once into a
reader (cached). The record reader returns plain dicts; the columnar
reader (``read_avro_file(..., raw=names)``, which manifests use) appends
each record's fields to one list per field and returns a
:class:`ColumnTable`, so a record costs no dict and a nested record no
dict either. Encoding takes a schema dict + dicts.

The columnar reader takes a *projection*: a set of field names whose
contiguous run inside a record is skip-walked instead of decoded and
kept as one ``bytes`` value per record in the column :data:`RAW`, with
one key per table naming the run's own compiled reader; :func:`decode_run`
turns ``RawRun(key, bytes)`` into values later, once, in any process.
The manifest reader projects the per-column stat maps of ``data_file``
this way (Iceberg's key/value arrays: a run whose fields are anything
else decodes eagerly), so a plan pays for stats only on the entries whose
stats a predicate reads. Avro data files are always decoded eagerly.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from collections import OrderedDict
from threading import Lock
from typing import Any, BinaryIO, Iterable, Iterator, Optional

MAGIC = b"Obj\x01"


# ---------------------------------------------------------------------------
# primitive binary encoding
# ---------------------------------------------------------------------------

def _write_long(out: io.BytesIO, n: int) -> None:
    # zigzag varint
    n = (n << 1) ^ (n >> 63)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.write(bytes((b | 0x80,)))
        else:
            out.write(bytes((b,)))
            break


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _write_bytes(out: io.BytesIO, b: bytes) -> None:
    _write_long(out, len(b))
    out.write(b)


def _write_str(out: io.BytesIO, s: str) -> None:
    _write_bytes(out, s.encode("utf-8"))


# ---------------------------------------------------------------------------
# schema-driven decode: one compiled reader per writer schema
# ---------------------------------------------------------------------------
#
# A reader is a closure ``read(buf, pos) -> (value, new_pos)`` over a
# ``bytes`` buffer, built once per writer schema by walking the schema a
# single time; decoding then dispatches on nothing per value. Readers are
# closures, never source generated from the (file-supplied) schema text.

_unpack_float = struct.Struct("<f").unpack_from
_unpack_double = struct.Struct("<d").unpack_from


def _read_long_fast(buf: bytes, pos: int) -> tuple[int, int]:
    b = buf[pos]
    if b < 0x80:  # 1-byte varint: every small int, length and union index
        return (b >> 1) ^ -(b & 1), pos + 1
    return _read_long(buf, pos)


def _read_null(buf: bytes, pos: int) -> tuple[None, int]:
    return None, pos


def _read_boolean(buf: bytes, pos: int) -> tuple[bool, int]:
    return buf[pos] != 0, pos + 1


def _read_float(buf: bytes, pos: int) -> tuple[float, int]:
    return _unpack_float(buf, pos)[0], pos + 4


def _read_double(buf: bytes, pos: int) -> tuple[float, int]:
    return _unpack_double(buf, pos)[0], pos + 8


def _read_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _read_long_fast(buf, pos)
    end = pos + n
    return buf[pos:end], end


def _read_string(buf: bytes, pos: int) -> tuple[str, int]:
    n, pos = _read_long_fast(buf, pos)
    end = pos + n
    return buf[pos:end].decode("utf-8"), end


_PRIMITIVE_READERS = {
    "null": _read_null,
    "boolean": _read_boolean,
    "int": _read_long_fast,
    "long": _read_long_fast,
    "float": _read_float,
    "double": _read_double,
    "bytes": _read_bytes,
    "string": _read_string,
}


def _is_null(schema: Any) -> bool:
    return schema == "null" or (isinstance(schema, dict)
                                and schema.get("type") == "null")


def _compile(schema: Any):
    """The reader for one (sub)schema."""
    if isinstance(schema, list):
        return _compile_union(schema)
    t = schema if isinstance(schema, str) else schema["type"]
    if isinstance(t, (dict, list)):  # {"type": {...}} wrapper
        return _compile(t)
    prim = _PRIMITIVE_READERS.get(t)
    if prim is not None:
        return prim
    if t == "record":
        return _compile_record(schema)
    if t == "array":
        return _compile_array(schema)
    if t == "map":
        return _compile_map(schema)
    if t == "fixed":
        size = schema["size"]

        def read_fixed(buf, pos):
            end = pos + size
            return buf[pos:end], end
        return read_fixed
    if t == "enum":
        symbols = list(schema["symbols"])
        n_symbols = len(symbols)

        def read_enum(buf, pos):
            i, pos = _read_long_fast(buf, pos)
            if not 0 <= i < n_symbols:
                raise ValueError(f"avro enum index {i} out of range")
            return symbols[i], pos
        return read_enum

    def read_unsupported(buf, pos):  # raise only if a value needs it
        raise ValueError(f"unsupported avro type: {t!r}")
    return read_unsupported


def _compile_union(schema: list):
    branches = [_compile(s) for s in schema]
    n = len(branches)
    if n == 2 and (_is_null(schema[0]) or _is_null(schema[1])):
        null_first = _is_null(schema[0])
        return _optional(branches[1] if null_first else branches[0],
                         null_first)

    def read_union(buf, pos):
        i, pos = _read_long_fast(buf, pos)
        if not 0 <= i < n:
            raise ValueError(f"avro union index {i} out of range")
        return branches[i](buf, pos)
    return read_union


def _run_bounds(fields: list, run: frozenset) -> tuple[int, int, list]:
    """``(lo, hi, spec)``: the fields ``fields[lo:hi]`` named in ``run``
    when they are contiguous and all key/value arrays
    (:func:`_run_field`), with their run spec; else an empty run at the
    end of the record."""
    at = [i for i, f in enumerate(fields) if f["name"] in run]
    spec = [_run_field(fields[i]) for i in at]
    if not (at and at[-1] - at[0] == len(at) - 1 and all(spec)):
        return len(fields), len(fields), []
    return at[0], at[-1] + 1, spec


def _compile_run_bytes(spec: list):
    """``(key, read)``: ``read(buf, pos) -> (the run's bytes, end)``."""
    key = json.dumps(spec, separators=(",", ":")).encode()
    skip = _compile_run_skip(spec)

    def read_run_bytes(buf, pos):
        end = skip(buf, pos)
        return buf[pos:end], end
    return key, read_run_bytes


def _compile_record(schema: dict):
    """Record reader: one dict per record."""
    fields = [(f["name"], _compile(f["type"])) for f in schema["fields"]]

    def read_record(buf, pos):
        rec = {}
        for name, read in fields:
            rec[name], pos = read(buf, pos)
        return rec, pos
    return read_record


def _record_schema(t: Any) -> Optional[dict]:
    """The record schema a field type names, unwrapped, or None."""
    while isinstance(t, dict):
        if t.get("type") == "record":
            return t
        t = t.get("type")
    return None


def _compile_tuple(schema: dict):
    """Reader of a record as the tuple of its field values."""
    readers = [_compile(f["type"]) for f in schema["fields"]]
    if len(readers) == 1:
        [only] = readers

        def read_one(buf, pos):
            v, pos = only(buf, pos)
            return (v,), pos
        return read_one

    def read_tuple(buf, pos):
        out = []
        for read in readers:
            v, pos = read(buf, pos)
            out.append(v)
        return tuple(out), pos
    return read_tuple


class _ColumnPlan:
    """A columnar reader compiled from one writer schema: ``steps`` are
    ``(column name, read)`` in record order."""

    __slots__ = ("steps", "struct_names", "interned", "run_key")

    def __init__(self, schema: dict, run: frozenset):
        self.steps: list = []
        self.struct_names: dict = {}
        #: tuple columns whose equal values are stored once: those without
        #: floats, whose -0.0 equals 0.0
        self.interned: set = set()
        self.run_key: Optional[bytes] = None
        self._flatten(schema["fields"], run, nested=False)
        names = [name for name, _ in self.steps]
        if len(set(names)) != len(names):
            raise ValueError(f"avro columns repeat a field name: {names}")

    def _flatten(self, fields: list, run: frozenset, nested: bool) -> None:
        lo, hi, spec = _run_bounds(fields, run)
        if spec and self.run_key is not None:
            raise ValueError("avro schema has more than one projected run")
        for i, f in enumerate(fields):
            if i == lo and spec:
                self.run_key, read = _compile_run_bytes(spec)
                self.steps.append((RAW, read))
            if lo <= i < hi:
                continue
            rec = _record_schema(f["type"])
            if rec is None:
                self.steps.append((f["name"], _compile(f["type"])))
            elif not nested:
                self._flatten(rec["fields"], run, nested=True)
            else:
                self.struct_names[f["name"]] = tuple(
                    g["name"] for g in rec["fields"])
                if not _has_float(rec):
                    self.interned.add(f["name"])
                self.steps.append((f["name"], _compile_tuple(rec)))


def _has_float(schema: Any) -> bool:
    if isinstance(schema, str):
        return schema in ("float", "double")
    if isinstance(schema, list):
        return any(_has_float(s) for s in schema)
    if isinstance(schema, dict):
        return any(_has_float(v) for k, v in schema.items()
                   if k in ("type", "fields", "items", "values"))
    return False


def _interning(append):
    """``append`` that stores one object per distinct hashable value, so
    the rows of a partition share one tuple (and pickle it once)."""
    seen: dict = {}

    def add(v):
        try:
            v = seen.setdefault(v, v)
        except TypeError:  # an unhashable value is kept as it is
            pass
        append(v)
    return add


class ColumnTable:
    """Records as columns: ``table[name]`` is the list of one field's
    values in record order, and ``len(table)`` is the record count.

    Columns are named by field. The fields of a record-typed field of the
    top-level record (a manifest entry's ``data_file``) are columns of
    their own, and a record field inside those (``partition``) is one
    column of tuples, whose field names ``struct_names[name]`` holds. The
    projected run is the column :data:`RAW` of ``bytes``, each decoded by
    :func:`decode_run` of ``RawRun(run_key, data)``. A table read from a
    file is shared by every reader of the cached file: never mutate its
    lists."""

    __slots__ = ("columns", "struct_names", "run_key", "n")

    def __init__(self, columns: dict, n: int, struct_names: dict,
                 run_key: Optional[bytes]):
        self.columns = columns
        self.n = n
        self.struct_names = struct_names
        self.run_key = run_key

    def __len__(self) -> int:
        return self.n

    def __getitem__(self, name: str) -> list:
        return self.columns[name]

    def __contains__(self, name: str) -> bool:
        return name in self.columns

    def get(self, name: str, default=None):
        return self.columns.get(name, default)

    def take(self, rows: list, names: Iterable[str]) -> "ColumnTable":
        """A table of the columns in ``names`` that this one has, holding
        ``rows`` (ascending indexes) of each; all rows share the lists."""
        cols = self.columns
        if len(rows) == self.n:
            out = {name: cols[name] for name in names if name in cols}
        else:
            out = {name: [col[i] for i in rows]
                   for name in names if (col := cols.get(name)) is not None}
        return ColumnTable(out, len(rows), self.struct_names, self.run_key)


def _optional(inner, null_first: bool):
    """Reader of the Iceberg metadata union shape ``["null", X]`` /
    ``[X, "null"]``: the branch index is one zigzag byte, 0x00 (index 0)
    or 0x02 (1)."""
    null_byte, value_byte = (0, 2) if null_first else (2, 0)

    def read_optional(buf, pos):
        b = buf[pos]
        if b == null_byte:
            return None, pos + 1
        if b == value_byte:
            return inner(buf, pos + 1)
        raise ValueError(f"avro union index byte {b:#x} out of range")
    return read_optional


def _block_count(buf: bytes, pos: int) -> tuple[int, int]:
    """Item count of the next array/map block; a negative count is
    followed by the block's byte size, which we do not need."""
    n, pos = _read_long_fast(buf, pos)
    if n < 0:
        _, pos = _read_long_fast(buf, pos)
        n = -n
    return n, pos


def _compile_array(schema: dict):
    items = _compile(schema["items"])

    def read_array(buf, pos):
        out = []
        append = out.append
        n, pos = _block_count(buf, pos)
        while n:
            for _ in range(n):
                v, pos = items(buf, pos)
                append(v)
            n, pos = _block_count(buf, pos)
        return out, pos
    return read_array


def _compile_map(schema: dict):
    values = _compile(schema["values"])

    def read_map(buf, pos):
        out = {}
        n, pos = _block_count(buf, pos)
        while n:
            for _ in range(n):
                k, pos = _read_string(buf, pos)
                out[k], pos = values(buf, pos)
            n, pos = _block_count(buf, pos)
        return out, pos
    return read_map


# --- projected runs ----------------------------------------------------------

#: column name of a projected run; Avro names cannot start with a dot, so
#: it never collides with a field name
RAW = ".raw"


class RawRun:
    """A run of record fields kept encoded: ``key`` describes the run (see
    :func:`_run_field`; it names, and can rebuild, the run's compiled
    reader) and ``data`` is the run's bytes. :func:`decode_run` decodes it
    once and keeps the values on it (never pickled)."""

    __slots__ = ("key", "data", "values")

    def __init__(self, key: bytes, data: bytes):
        self.key = key
        self.data = data
        self.values = None

    def __reduce__(self):
        return RawRun, (self.key, self.data)


#: key and value types of an Iceberg stat map: field-id keys, counts or
#: serialized bounds as values
_RUN_KEYS = ("int", "long")
_RUN_VALUES = ("int", "long", "bytes")


def _run_field(field: dict) -> Optional[list]:
    """``[name, null first, key type, value type]`` when ``field`` is an
    optional Iceberg key/value array (``["null", {"type": "array",
    "items": {record key, value}}]``, either branch order) with
    :data:`_RUN_KEYS` keys and :data:`_RUN_VALUES` values, else None.
    That is all a run's reader and skipper need, so a run's key is a
    short list of these, not its schema."""
    t = field["type"]
    if not (isinstance(t, list) and len(t) == 2
            and _is_null(t[0]) != _is_null(t[1])):
        return None
    arr = t[0] if _is_null(t[1]) else t[1]
    items = arr.get("items") if isinstance(arr, dict) \
        and arr.get("type") == "array" else None
    if not (isinstance(items, dict) and items.get("type") == "record"
            and [f["name"] for f in items["fields"]] == ["key", "value"]):
        return None
    kt, vt = (f["type"] for f in items["fields"])
    if kt not in _RUN_KEYS or vt not in _RUN_VALUES:
        return None
    return [field["name"], _is_null(t[0]), kt, vt]


def _compile_run_skip(spec: list):
    """``skip(buf, pos) -> end`` over a run of key/value-array fields:
    walks item boundaries inline (or jumps a block whose byte size is
    given) without building a value; this loop runs for every entry a
    manifest read sees. A key is a varint; a value is a varint (counts)
    or length-prefixed bytes (bounds)."""
    plan = [(0 if null_first else 2, 2 if null_first else 0,
             value_type == "bytes")
            for _, null_first, _, value_type in spec]

    def skip(buf, pos):
        for null_byte, value_byte, sized in plan:
            b = buf[pos]
            pos += 1
            if b == null_byte:
                continue
            if b != value_byte:
                raise ValueError(
                    f"avro union index byte {b:#x} out of range")
            n, pos = _read_long_fast(buf, pos)
            while n:
                if n < 0:  # the block's byte size follows: jump it
                    size, pos = _read_long_fast(buf, pos)
                    pos += size
                elif sized:  # a varint, then length-prefixed bytes
                    for _ in range(n):
                        while buf[pos] > 0x7F:
                            pos += 1
                        size, pos = _read_long_fast(buf, pos + 1)
                        pos += size
                else:  # two varints per item
                    for _ in range(n + n):
                        while buf[pos] > 0x7F:
                            pos += 1
                        pos += 1
                n, pos = _read_long_fast(buf, pos)
        return pos
    return skip


def _compile_kv_dict(key_type: str, value_type: str):
    """Reader of one key/value array straight into a ``{key: value}``
    dict."""
    read_key = _PRIMITIVE_READERS[key_type]
    read_value = _PRIMITIVE_READERS[value_type]

    def read_kv(buf, pos):
        out = {}
        n, pos = _block_count(buf, pos)
        while n:
            for _ in range(n):
                k, pos = read_key(buf, pos)
                out[k], pos = read_value(buf, pos)
            n, pos = _block_count(buf, pos)
        return out, pos
    return read_kv


def _compile_run(spec: list):
    """Reader of a run's bytes: ``{field name: {key: value} or None}``."""
    readers = [(name, _optional(_compile_kv_dict(key_type, value_type),
                                null_first))
               for name, null_first, key_type, value_type in spec]

    def read_run(buf, pos):
        out = {}
        for name, read in readers:
            out[name], pos = read(buf, pos)
        return out, pos
    return read_run


def decode_run(raw: RawRun) -> dict:
    """The values of a projected run: each key/value array as a
    ``{key: value}`` dict, or None. Decoded once per run and shared:
    callers copy what they hand out."""
    if raw.values is None:
        read = _cached_reader(raw.key,
                              lambda: _compile_run(json.loads(raw.key)))
        out, end = read(raw.data, 0)
        if end != len(raw.data):
            raise ValueError(f"avro field run of {len(raw.data)} bytes "
                             f"decoded as {end} bytes")
        raw.values = out
    return raw.values


#: compiled readers by writer-schema JSON text (and projection), or by run
#: key, LRU-bounded so a long session reading many distinct schemas keeps
#: a constant footprint
_READERS: "OrderedDict[Any, Any]" = OrderedDict()
_READERS_MAX = 64
_READERS_LOCK = Lock()


def _cached_reader(key: Any, build):
    with _READERS_LOCK:
        read = _READERS.get(key)
        if read is not None:
            _READERS.move_to_end(key)
            return read
    read = build()
    with _READERS_LOCK:
        _READERS[key] = read
        while len(_READERS) > _READERS_MAX:
            _READERS.popitem(last=False)
    return read


# ---------------------------------------------------------------------------
# schema-driven encode
# ---------------------------------------------------------------------------

def _union_branch(schema: list, value: Any) -> tuple[int, Any]:
    """Pick the union branch for value. Iceberg metadata unions are
    ``["null", X]`` (or ``[X, "null"]``), which is all we need."""
    for i, s in enumerate(schema):
        if _is_null(s) and value is None:
            return i, s
    for i, s in enumerate(schema):
        if _is_null(s):
            continue
        return i, s
    raise ValueError(f"no union branch for {value!r} in {schema!r}")


def _encode(out: io.BytesIO, schema: Any, value: Any) -> None:
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):
        idx, branch = _union_branch(schema, value)
        _write_long(out, idx)
        _encode(out, branch, value)
        return
    else:
        t = schema["type"]

    if t == "null":
        return
    if t == "boolean":
        out.write(b"\x01" if value else b"\x00")
        return
    if t in ("int", "long"):
        _write_long(out, int(value))
        return
    if t == "float":
        out.write(struct.pack("<f", value))
        return
    if t == "double":
        out.write(struct.pack("<d", value))
        return
    if t == "bytes":
        _write_bytes(out, bytes(value))
        return
    if t == "string":
        _write_str(out, value)
        return
    if t == "fixed":
        b = bytes(value)
        if len(b) != schema["size"]:
            raise ValueError("fixed size mismatch")
        out.write(b)
        return
    if t == "enum":
        _write_long(out, schema["symbols"].index(value))
        return
    if t == "array":
        if value:
            _write_long(out, len(value))
            for v in value:
                _encode(out, schema["items"], v)
        _write_long(out, 0)
        return
    if t == "map":
        if value:
            _write_long(out, len(value))
            for k, v in value.items():
                _write_str(out, k)
                _encode(out, schema["values"], v)
        _write_long(out, 0)
        return
    if t == "record":
        for f in schema["fields"]:
            name = f["name"]
            if isinstance(value, dict):
                v = value.get(name, f.get("default"))
                if name not in value and "default" not in f and not _nullable(f["type"]):
                    raise ValueError(f"missing required record field {name}")
            else:
                v = getattr(value, name)
            _encode(out, f["type"], v)
        return
    if isinstance(t, (dict, list)):
        _encode(out, t, value)
        return
    raise ValueError(f"unsupported avro type: {t!r}")


def _nullable(schema: Any) -> bool:
    return isinstance(schema, list) and any(_is_null(s) for s in schema)


# ---------------------------------------------------------------------------
# container file
# ---------------------------------------------------------------------------

def read_avro_file(path_or_bytes: str | bytes,
                   raw: Optional[Iterable[str]] = None) -> tuple:
    """Read an Avro OCF. Returns ``(writer_schema, file_metadata,
    records)``: a list of dicts, or with ``raw`` given a
    :class:`ColumnTable`. ``raw`` is then the projection: field names
    kept undecoded as the table's :data:`RAW` column (see
    :func:`_run_bounds`; an empty projection decodes every field)."""
    if isinstance(path_or_bytes, (bytes, bytearray)):
        data = path_or_bytes
    else:
        from .. import io as fio

        data = fio.get_io(path_or_bytes).read_bytes(path_or_bytes)
    data = bytes(data)  # readers slice and decode bytes; a no-op on bytes
    if data[:4] != MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta: dict[str, bytes] = {}
    n, pos = _block_count(data, pos)
    while n:
        for _ in range(n):
            k, pos = _read_string(data, pos)
            meta[k], pos = _read_bytes(data, pos)
        n, pos = _block_count(data, pos)
    sync = data[pos:pos + 16]
    pos += 16
    schema_text = meta["avro.schema"]
    schema = json.loads(schema_text)
    if raw is None:
        read = _cached_reader(schema_text, lambda: _compile(schema))
        out: Any = []
        append = out.append

        def decode(block, count):
            bpos = 0
            for _ in range(count):
                rec, bpos = read(block, bpos)
                append(rec)
            return bpos
    else:
        run = frozenset(raw)
        plan = _cached_reader((schema_text, run),
                              lambda: _ColumnPlan(schema, run))
        out = ColumnTable({}, 0, plan.struct_names, plan.run_key)
        steps = [(read, _interning(out.columns.setdefault(name, []).append)
                  if name in plan.interned
                  else out.columns.setdefault(name, []).append)
                 for name, read in plan.steps]

        def decode(block, count):
            bpos = 0
            for _ in range(count):
                for read, append in steps:
                    v, bpos = read(block, bpos)
                    append(v)
            out.n += count
            return bpos
    codec = meta.get("avro.codec", b"null").decode()
    total = len(data)
    while pos < total:
        count, pos = _read_long(data, pos)
        size, pos = _read_long(data, pos)
        block = data[pos:pos + size]
        pos += size
        if len(block) != size:
            raise ValueError("truncated avro block")
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"unsupported avro codec {codec}")
        bpos = decode(block, count)
        if bpos != len(block):  # slicing past the end does not raise
            raise ValueError(f"avro block of {len(block)} bytes decoded "
                             f"as {bpos} bytes of {count} records")
        if data[pos:pos + 16] != sync:
            raise ValueError("avro sync marker mismatch")
        pos += 16
    return schema, meta, out


def write_avro_file(
    path: str,
    schema: dict,
    records: Iterable[Any],
    metadata: dict[str, str | bytes] | None = None,
    codec: str = "deflate",
) -> None:
    body = io.BytesIO()
    count = 0
    for rec in records:
        _encode(body, schema, rec)
        count += 1
    payload = body.getvalue()
    if codec == "deflate":
        comp = zlib.compressobj(6, zlib.DEFLATED, -15)
        payload = comp.compress(payload) + comp.flush()

    out = io.BytesIO()
    out.write(MAGIC)
    meta: dict[str, bytes] = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    for k, v in (metadata or {}).items():
        meta[k] = v.encode() if isinstance(v, str) else v
    _write_long(out, len(meta))
    for k, v in meta.items():
        _write_str(out, k)
        _write_bytes(out, v)
    _write_long(out, 0)
    sync = os.urandom(16)
    out.write(sync)
    if count:
        _write_long(out, count)
        _write_long(out, len(payload))
        out.write(payload)
        out.write(sync)
    else:
        # zero-record file: no data blocks at all is valid
        pass
    from .. import io as fio

    fio.get_io(path).write_bytes(path, out.getvalue())
