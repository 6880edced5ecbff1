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
dicts. Iceberg manifests are small (KBs-MBs) so driver-side
Python decode is fine; at huge scale manifests can instead be read
distributed (see plans/pruner.py notes).
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from collections import OrderedDict
from threading import Lock
from typing import Any, BinaryIO, Iterable, Iterator

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
        # the Iceberg metadata shape ["null", X] / [X, "null"]: the
        # branch index is one zigzag byte, 0x00 (index 0) or 0x02 (1)
        null_first = _is_null(schema[0])
        inner = branches[1] if null_first else branches[0]
        null_byte, value_byte = (0, 2) if null_first else (2, 0)

        def read_optional(buf, pos):
            b = buf[pos]
            if b == null_byte:
                return None, pos + 1
            if b == value_byte:
                return inner(buf, pos + 1)
            raise ValueError(f"avro union index byte {b:#x} out of range")
        return read_optional

    def read_union(buf, pos):
        i, pos = _read_long_fast(buf, pos)
        if not 0 <= i < n:
            raise ValueError(f"avro union index {i} out of range")
        return branches[i](buf, pos)
    return read_union


def _compile_record(schema: dict):
    fields = [(f["name"], _compile(f["type"])) for f in schema["fields"]]

    def read_record(buf, pos):
        rec = {}
        for name, read in fields:
            rec[name], pos = read(buf, pos)
        return rec, pos
    return read_record


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


#: compiled readers by writer-schema JSON text, LRU-bounded so a long
#: session reading many distinct schemas keeps a constant footprint
_READERS: "OrderedDict[bytes, Any]" = OrderedDict()
_READERS_MAX = 64
_READERS_LOCK = Lock()


def _reader_for(schema_text: bytes, schema: Any):
    with _READERS_LOCK:
        read = _READERS.get(schema_text)
        if read is not None:
            _READERS.move_to_end(schema_text)
            return read
    read = _compile(schema)
    with _READERS_LOCK:
        _READERS[schema_text] = read
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

def read_avro_file(path_or_bytes: str | bytes) -> tuple[dict, dict[str, bytes], list[dict]]:
    """Read an Avro OCF. Returns (writer_schema, file_metadata, records)."""
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
    read = _reader_for(schema_text, schema)
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
