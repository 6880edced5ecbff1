"""Iceberg partition transforms: identity, bucket[N], truncate[W],
year/month/day/hour, void.

Three faces per transform:

1. ``apply_python``  — driver-side evaluation on plain Python values, used by
   the scan planner to transform filter literals for partition pruning
   (reference: src/include/core/expression/iceberg_transform.hpp:64-342).
2. ``transform_column`` — Spark Column expression used on the write path to
   compute partition values (reference: src/execution/operator/
   iceberg_insert.cpp:403-475 builds the same projections with date_diff).
3. ``transform_result_type`` — Iceberg result type of transform(source_type).

Bucket hashing is spec-exact murmur3_x86_32 with the reference's byte
conventions (reference: src/core/expression/iceberg_hash.cpp:14-94):
int32 is sign-extended to 8 little-endian bytes, decimals hash the minimal
big-endian two's-complement of the unscaled value, uuid hashes its 16 raw
bytes, timestamps hash microseconds as 8-byte LE (ns floored to µs,
iceberg_transform.hpp:118-127). Spark's builtin ``hash()``/``bucket()`` use
different conventions, so bucket columns go through a vectorized pandas UDF.

Truncate on strings uses code points per the Iceberg spec (the reference
truncates grapheme clusters — a documented deviation we do not copy,
src/function/iceberg_scalar_functions.cpp:241-255).
"""

from __future__ import annotations

import datetime as _dt
import re
import struct
from decimal import Decimal

from ..metadata.types import DEC38
from typing import Any, Callable, Optional

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..metadata import types as ice_types

_BUCKET_RE = re.compile(r"bucket\[(\d+)\]")
_TRUNCATE_RE = re.compile(r"truncate\[(\d+)\]")

_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_TS = _dt.datetime(1970, 1, 1)
_EPOCH_TS_TZ = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def parse_transform(t: str) -> tuple[str, Optional[int]]:
    t = t.lower()
    m = _BUCKET_RE.match(t)
    if m:
        return "bucket", int(m.group(1))
    m = _TRUNCATE_RE.match(t)
    if m:
        return "truncate", int(m.group(1))
    if t in ("identity", "year", "month", "day", "hour", "void"):
        return t, None
    raise ValueError(f"unknown transform {t!r}")


# ---------------------------------------------------------------------------
# murmur3_x86_32, spec-exact
# ---------------------------------------------------------------------------

def murmur3_32(data: bytes, seed: int = 0) -> int:
    c1 = 0xCC9E2D51
    c2 = 0x1B873593
    length = len(data)
    h = seed & 0xFFFFFFFF
    rounded = length & ~0x3
    for i in range(0, rounded, 4):
        k = data[i] | (data[i + 1] << 8) | (data[i + 2] << 16) | (data[i + 3] << 24)
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = length & 3
    if tail >= 3:
        k ^= data[rounded + 2] << 16
    if tail >= 2:
        k ^= data[rounded + 1] << 8
    if tail >= 1:
        k ^= data[rounded]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= length
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _hash_bytes_for(value: Any, src_type: str) -> bytes:
    """Byte conventions per iceberg_hash.cpp:14-94."""
    name = ice_types.primitive_name(src_type)
    if name in ("int", "long"):
        return struct.pack("<q", int(value))
    if name == "date":
        if isinstance(value, _dt.date) and not isinstance(value, _dt.datetime):
            value = (value - _EPOCH_DATE).days
        return struct.pack("<q", int(value))
    if name == "time":
        return struct.pack("<q", ice_types.time_to_micros(value))
    if name in ("timestamp", "timestamptz", "timestamp_ns", "timestamptz_ns"):
        return struct.pack("<q", _to_micros(value, name))
    if name == "string":
        return str(value).encode("utf-8")
    if name == "uuid":
        import uuid as _uuid

        return _uuid.UUID(str(value)).bytes
    if name in ("binary", "fixed"):
        return bytes(value)
    if name == "decimal":
        _, s = ice_types.decimal_precision_scale(src_type)
        unscaled = int(Decimal(value).scaleb(s, context=DEC38).to_integral_value())
        return ice_types._min_twos_complement(unscaled)
    raise ValueError(f"bucket transform unsupported for type {src_type}")


def bucket_value(value: Any, n: int, src_type: str) -> Optional[int]:
    if value is None:
        return None
    return (murmur3_32(_hash_bytes_for(value, src_type)) & 0x7FFFFFFF) % n


def _to_micros(value: Any, name: str = "timestamp") -> int:
    if isinstance(value, _dt.datetime):
        if value.tzinfo is not None:
            delta = value - _EPOCH_TS_TZ
        else:
            delta = value - _EPOCH_TS
        return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds
    v = int(value)
    if name.endswith("_ns"):
        v = v // 1000  # floor ns → µs (iceberg_transform.hpp:118-127)
    return v


# ---------------------------------------------------------------------------
# python-value transforms (planner side)
# ---------------------------------------------------------------------------

def _truncate_py(value: Any, w: int, src_type: str) -> Any:
    if value is None:
        return None
    name = ice_types.primitive_name(src_type)
    if name in ("int", "long"):
        v = int(value)
        return v - (((v % w) + w) % w)
    if name == "decimal":
        _, s = ice_types.decimal_precision_scale(src_type)
        unscaled = int(Decimal(value).scaleb(s, context=DEC38).to_integral_value())
        trunc = unscaled - (((unscaled % w) + w) % w)
        return Decimal(trunc).scaleb(-s, context=DEC38)
    if name == "string":
        return str(value)[:w]
    if name in ("binary", "fixed"):
        return bytes(value)[:w]
    raise ValueError(f"truncate unsupported for {src_type}")


def _to_date(value: Any) -> _dt.date:
    if isinstance(value, _dt.datetime):
        return value.date()
    if isinstance(value, _dt.date):
        return value
    if isinstance(value, str):
        return _dt.date.fromisoformat(value[:10])
    return _EPOCH_DATE + _dt.timedelta(days=int(value))


def year_py(value: Any) -> Optional[int]:
    if value is None:
        return None
    return _to_date(value).year - 1970


def month_py(value: Any) -> Optional[int]:
    if value is None:
        return None
    d = _to_date(value)
    return (d.year - 1970) * 12 + d.month - 1


def day_py(value: Any) -> Optional[int]:
    if value is None:
        return None
    return (_to_date(value) - _EPOCH_DATE).days


def hour_py(value: Any) -> Optional[int]:
    if value is None:
        return None
    us = _to_micros(value)
    return us // 3_600_000_000


def apply_python(transform: str, value: Any, src_type: str) -> Any:
    """Apply a transform to a Python literal (planner-side)."""
    kind, arg = parse_transform(transform)
    if value is None:
        return None
    if kind == "identity":
        return value
    if kind == "bucket":
        return bucket_value(value, arg, src_type)
    if kind == "truncate":
        return _truncate_py(value, arg, src_type)
    if kind == "year":
        return year_py(value)
    if kind == "month":
        return month_py(value)
    if kind == "day":
        return day_py(value)
    if kind == "hour":
        return hour_py(value)
    if kind == "void":
        return None
    raise ValueError(kind)


def transform_result_type(transform: str, src_type: Any) -> Any:
    """Iceberg result type of transform(src) (spec table)."""
    kind, _ = parse_transform(transform)
    if kind == "identity":
        return src_type
    if kind == "bucket":
        return "int"
    if kind == "truncate":
        return src_type
    if kind == "day":
        # spec: day() result is date-compatible int; we use date for
        # readability of partition paths, int in bounds
        return "int"
    if kind in ("year", "month", "hour"):
        return "int"
    if kind == "void":
        return None
    raise ValueError(kind)


# ---------------------------------------------------------------------------
# Spark Column transforms (write side)
# ---------------------------------------------------------------------------

def murmur3_32_fixed8_np(arr):
    """Vectorized murmur3_32 over int64 keys serialized little-endian —
    8 bytes is exactly two 4-byte blocks with zero tail, so the whole hash
    is expressible as numpy uint32 vector ops (wrapping mod 2^32 matches
    the scalar loop bit-for-bit: spec vectors in tests/test_metadata_core
    pin it). This is the write-path hot loop for bucket-partitioned
    INSERTs over int/long/date/time/timestamp keys — per-row Python here
    is the classic 100 TB scale-killer the round-4 review flagged."""
    import numpy as np

    u = np.ascontiguousarray(arr, dtype="<i8").view("<u4").reshape(-1, 2)
    h = np.zeros(len(u), dtype=np.uint32)
    c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
    for col in (0, 1):
        k = u[:, col] * c1
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k = k * c2
        h ^= k
        h = (h << np.uint32(13)) | (h >> np.uint32(19))
        h = h * np.uint32(5) + np.uint32(0xE6546B64)
    h ^= np.uint32(8)  # total byte length
    h ^= h >> np.uint32(16)
    h *= np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h *= np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h


def murmur3_32_var_np(buf, offsets, lengths):
    """Batched spec-exact murmur3 over VARIABLE-length byte strings
    (string/binary/decimal/uuid bucket keys — iceberg_hash.cpp byte
    semantics). ``buf`` is the concatenated uint8 payload; ``offsets`` /
    ``lengths`` locate each row. The 4-byte-block loop runs over the
    block INDEX (bounded by the longest key / 4), each iteration a
    vectorized gather+mix over every still-active row — per-row Python
    never runs, so a string-bucketed INSERT pays numpy throughput, not
    interpreter dispatch, per written row."""
    import numpy as np

    n = len(lengths)
    h = np.zeros(n, dtype=np.uint32)
    c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
    u32 = np.uint32
    lengths = np.asarray(lengths, dtype=np.int64)
    offsets = np.asarray(offsets, dtype=np.int64)
    nblocks = lengths >> 2
    with np.errstate(over="ignore"):
        max_b = int(nblocks.max()) if n else 0
        for j in range(max_b):
            active = nblocks > j
            off = offsets[active] + 4 * j
            k = (buf[off].astype(np.uint32)
                 | buf[off + 1].astype(np.uint32) << u32(8)
                 | buf[off + 2].astype(np.uint32) << u32(16)
                 | buf[off + 3].astype(np.uint32) << u32(24))
            k = k * c1
            k = (k << u32(15)) | (k >> u32(17))
            k = k * c2
            hh = h[active] ^ k
            hh = (hh << u32(13)) | (hh >> u32(19))
            h[active] = hh * u32(5) + u32(0xE6546B64)
        tail = (lengths & 3).astype(np.int64)
        tstart = offsets + 4 * nblocks
        k = np.zeros(n, dtype=np.uint32)
        m = tail >= 3
        k[m] ^= buf[tstart[m] + 2].astype(np.uint32) << u32(16)
        m = tail >= 2
        k[m] ^= buf[tstart[m] + 1].astype(np.uint32) << u32(8)
        m = tail >= 1
        k[m] ^= buf[tstart[m]].astype(np.uint32)
        km = k[m] * c1
        km = (km << u32(15)) | (km >> u32(17))
        h[m] ^= km * c2
        h ^= lengths.astype(np.uint32)
        h ^= h >> u32(16)
        h *= u32(0x85EBCA6B)
        h ^= h >> u32(13)
        h *= u32(0xC2B2AE35)
        h ^= h >> u32(16)
    return h


def _bucket_udf(n: int, src_type: str):
    """Vectorized spec-exact bucket UDF. Fixed-width types hash via numpy
    batch ops (murmur3_32_fixed8_np); variable-width types hash via
    murmur3_32_var_np over a concatenated bytes/offsets buffer — no
    per-row Python in either hashing loop. (decimal/uuid byte CONVERSION
    is still per value — they are rare partition keys; string, the common
    case, converts via the vectorized pandas .str.encode.)"""
    import numpy as np

    name = ice_types.primitive_name(src_type)

    if name in ("int", "long", "date", "time", "timestamp", "timestamptz",
                "timestamp_ns", "timestamptz_ns"):

        @pandas_udf(T.IntegerType())
        def bucket_fixed(s: pd.Series) -> pd.Series:
            if name == "date":
                vals = s.map(lambda d: (d - _EPOCH_DATE).days if d is not None else None)
            elif name in ("timestamp", "timestamptz", "timestamp_ns", "timestamptz_ns"):
                vals = s.map(lambda v: _to_micros(v, name) if v is not None else None)
            elif name == "time":
                # TimeType columns arrive as datetime.time; tagged-Long
                # tables ship raw µs ints — both hash as 8-byte µs
                vals = s.map(lambda v: ice_types.time_to_micros(v)
                             if v is not None else None)
            else:
                vals = s
            mask = vals.notna()
            arr = vals[mask].astype("int64").to_numpy()
            out = (murmur3_32_fixed8_np(arr) & np.uint32(0x7FFFFFFF)) \
                % np.uint32(n)
            res = pd.Series([None] * len(s), dtype="object")
            res[mask] = out.astype("int64")
            return res.astype("Int32")

        return bucket_fixed

    @pandas_udf(T.IntegerType())
    def bucket_var(s: pd.Series) -> pd.Series:
        mask = s.notna()
        vals = s[mask]
        if name == "string":
            blist = vals.astype(str).str.encode("utf-8").tolist()
        elif name in ("binary", "fixed"):
            blist = [bytes(v) for v in vals]
        else:  # uuid / decimal: per-value byte conversion, batched hash
            blist = [_hash_bytes_for(v, src_type) for v in vals]
        lengths = np.fromiter((len(b) for b in blist), dtype=np.int64,
                              count=len(blist))
        offsets = np.zeros(len(blist), dtype=np.int64)
        if len(blist) > 1:
            np.cumsum(lengths[:-1], out=offsets[1:])
        buf = np.frombuffer(b"".join(blist), dtype=np.uint8)
        out = (murmur3_32_var_np(buf, offsets, lengths)
               & np.uint32(0x7FFFFFFF)) % np.uint32(n)
        res = pd.Series([None] * len(s), dtype="object")
        res[mask] = out.astype("int64")
        return res.astype("Int32")

    return bucket_var


def transform_column(transform: str, col: Column, src_type: Any,
                     spark_type: T.DataType | None = None) -> Column:
    """Spark Column computing transform(col); mirrors
    iceberg_insert.cpp:403-475 (GetTransformExpression)."""
    kind, arg = parse_transform(transform)
    if kind == "identity":
        return col
    if kind == "void":
        return F.lit(None)
    if kind == "bucket":
        name = ice_types.primitive_name(src_type) if isinstance(src_type, str) else None
        return _bucket_udf(arg, src_type)(col)
    if kind == "truncate":
        name = ice_types.primitive_name(src_type)
        if name in ("int", "long"):
            return col - F.pmod(col, F.lit(arg))
        if name == "decimal":
            _, s = ice_types.decimal_precision_scale(src_type)
            unscaled = (col * F.lit(10 ** s)).cast(T.LongType())
            trunc = unscaled - F.pmod(unscaled, F.lit(arg))
            return (trunc.cast(T.DecimalType(38, 0)) / F.lit(10 ** s)).cast(
                ice_types.iceberg_to_spark(src_type)
            )
        if name == "string":
            return F.substring(col, 1, arg)
        if name in ("binary", "fixed"):
            return F.substring(col, 1, arg)
        raise ValueError(f"truncate unsupported for {src_type}")
    if kind == "year":
        return F.year(col) - F.lit(1970)
    if kind == "month":
        return (F.year(col) - F.lit(1970)) * F.lit(12) + F.month(col) - F.lit(1)
    if kind == "day":
        return F.datediff(col.cast(T.DateType()), F.lit(_EPOCH_DATE))
    if kind == "hour":
        secs = col.cast(T.LongType())  # seconds since epoch (UTC session tz)
        return ((secs - F.pmod(secs, F.lit(3600))) / F.lit(3600)).cast(T.IntegerType())
    raise ValueError(kind)
