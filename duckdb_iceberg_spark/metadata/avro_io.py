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
reader (cached) that returns plain dicts; encoding takes a schema dict +
dicts.

A reader can be compiled with a *projection*: a set of field names whose
contiguous run inside a record is skip-walked instead of decoded and
returned under the record key :data:`RAW` as one :class:`RawRun` (the
encoded bytes plus the key of the run's own compiled reader), which
:func:`decode_run` turns into values later, once, in any process. The manifest
reader projects the per-column stat maps of ``data_file`` this way
(Iceberg's key/value arrays: a run whose fields are anything else decodes
eagerly), so a plan pays for stats only on the entries whose stats a
predicate reads. Avro data files are always decoded eagerly.
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


def _compile(schema: Any, run: frozenset = frozenset()):
    """The reader for one (sub)schema; ``run`` is the projection (field
    names kept raw, see :func:`_compile_record`)."""
    if isinstance(schema, list):
        return _compile_union(schema, run)
    t = schema if isinstance(schema, str) else schema["type"]
    if isinstance(t, (dict, list)):  # {"type": {...}} wrapper
        return _compile(t, run)
    prim = _PRIMITIVE_READERS.get(t)
    if prim is not None:
        return prim
    if t == "record":
        return _compile_record(schema, run)
    if t == "array":
        return _compile_array(schema, run)
    if t == "map":
        return _compile_map(schema, run)
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


def _compile_union(schema: list, run: frozenset = frozenset()):
    branches = [_compile(s, run) for s in schema]
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


def _compile_record(schema: dict, run: frozenset = frozenset()):
    """Record reader. When the fields named in ``run`` that the record has
    are contiguous and all key/value arrays (:func:`_run_field`), that run
    is skip-walked and returned undecoded as ``rec[RAW]``; otherwise every
    field decodes."""
    fields = schema["fields"]
    at = [i for i, f in enumerate(fields) if f["name"] in run]
    spec = [_run_field(fields[i]) for i in at]
    if not (at and at[-1] - at[0] == len(at) - 1 and all(spec)):
        at = []
    lo, hi = (at[0], at[-1] + 1) if at else (len(fields), len(fields))
    head = [(f["name"], _compile(f["type"], run)) for f in fields[:lo]]
    tail = [(f["name"], _compile(f["type"], run)) for f in fields[hi:]]
    if not at:
        def read_record(buf, pos):
            rec = {}
            for name, read in head:
                rec[name], pos = read(buf, pos)
            return rec, pos
        return read_record

    key = json.dumps(spec, separators=(",", ":")).encode()
    skip = _compile_run_skip(spec)

    def read_record_run(buf, pos):
        rec = {}
        for name, read in head:
            rec[name], pos = read(buf, pos)
        end = skip(buf, pos)
        rec[RAW] = RawRun(key, buf[pos:end])
        pos = end
        for name, read in tail:
            rec[name], pos = read(buf, pos)
        return rec, pos
    return read_record_run


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


def _compile_array(schema: dict, run: frozenset = frozenset()):
    items = _compile(schema["items"], run)

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


def _compile_map(schema: dict, run: frozenset = frozenset()):
    values = _compile(schema["values"], run)

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

#: record key of a projected run; Avro names cannot start with a dot, so it
#: never collides with a field name
RAW = ".raw"


class RawRun:
    """A run of record fields kept encoded: ``key`` describes the run (see
    :func:`_run_field`; it names, and can rebuild, the run's compiled
    reader) and ``data`` is the run's bytes. One instance is shared by
    every reader of a cached record; :func:`decode_run` decodes it once
    and keeps the values on it (never pickled)."""

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

def read_avro_file(path_or_bytes: str | bytes, raw: Iterable[str] = ()
                   ) -> tuple[dict, dict[str, bytes], list[dict]]:
    """Read an Avro OCF. Returns (writer_schema, file_metadata, records).
    ``raw`` is the projection: field names a record keeps undecoded as one
    :class:`RawRun` under ``rec[RAW]`` (see :func:`_compile_record`)."""
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
    run = frozenset(raw)
    read = _cached_reader((schema_text, run), lambda: _compile(schema, run))
    codec = meta.get("avro.codec", b"null").decode()
    records: list[dict] = []
    append = records.append
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
        bpos = 0
        for _ in range(count):
            rec, bpos = read(block, bpos)
            append(rec)
        if bpos != len(block):  # slicing past the end does not raise
            raise ValueError(f"avro block of {len(block)} bytes decoded "
                             f"as {bpos} bytes of {count} records")
        if data[pos:pos + 16] != sync:
            raise ValueError("avro sync marker mismatch")
        pos += 16
    return schema, meta, records


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
