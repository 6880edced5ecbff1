"""Iceberg manifest-list and manifest file read/write (Avro).

Mirrors the reference's manifest model
(reference: src/include/core/metadata/manifest/iceberg_manifest.hpp:54-145 —
DataFile with record_count, partition values, value/null/nan counts,
lower/upper bounds, equality_ids, referenced_data_file, sequence numbers;
src/core/metadata/manifest/iceberg_manifest_list.cpp — manifest-list entries
with partition field_summary) using our pure-Python Avro codec (avro_io.py).

Iceberg's k/v stat "maps" keyed by field-id are Avro arrays of {key,value}
records (Avro maps require string keys); we encode/decode them as Python
dicts keyed by int field-id.

A manifest decodes into columns (:class:`avro_io.ColumnTable`): one list
per ``DataFile`` field, the partition values as one tuple per entry and
the six stat maps as one undecoded byte run per entry. The planner reads
those columns directly (``read_manifest(path).columns``) and builds no
object for an entry it prunes; every other caller gets
:class:`ManifestEntry` items, built from the columns on first access,
whose stats decode on first read (see :class:`DataFile`).
"""

from __future__ import annotations

import os
import uuid as _uuid
from collections.abc import Sequence
from dataclasses import dataclass, field, fields
from itertools import repeat
from operator import attrgetter
from typing import Any, Optional

from . import avro_io
from .table_metadata import PartitionSpec, TableMetadata
from . import types as ice_types

# manifest entry status (Iceberg spec)
STATUS_EXISTING = 0
STATUS_ADDED = 1
STATUS_DELETED = 2

# data_file content
CONTENT_DATA = 0
CONTENT_POSITION_DELETES = 1
CONTENT_EQUALITY_DELETES = 2

# manifest content (manifest-list entry)
MANIFEST_DATA = 0
MANIFEST_DELETES = 1


# --- immutable-metadata record cache ---------------------------------------
# Iceberg manifests and manifest lists are content-immutable once written
# (new content lands at a new path), so the reference hands them to DuckDB's
# external file cache with revalidation disabled (reference:
# iceberg_avro_multi_file_reader.cpp:695,713 —
# validate_external_file_cache=false, force_full_download=true). Same parity
# here at the parsed-record level: repeated scans of a table re-plan without
# re-reading + re-decoding the same Avro bytes (at 100 TB these are object-
# store round trips per query; locally it is the dominant per-query planning
# constant). Bounded LRU; keyed by (path, size, mtime_ns) and ONLY for
# stat-able local files — tmp-dir tests may rewrite a path in place (the
# stat guard keeps those honest) and unstat-able object-store paths skip the
# cache entirely rather than risk a stale path-only hit. Decoded columns
# are cached, never the ManifestEntry dataclasses: callers MUTATE entries
# (sequence-number / first-row-id inheritance), so every read_manifest
# call builds fresh entries from the shared, never-mutated columns. The
# columns hold each entry's six stat maps as one undecoded byte run: the
# cache holds bytes, not nested list/dict trees, and a run decodes only
# for entries whose stats are read. Assumption: an in-place
# same-size rewrite is visible in st_mtime_ns — true on any ns/µs-mtime
# filesystem; a coarse-mtime fs (1-2s FAT/HFS+) could serve one stale read
# inside the granularity window, but the Iceberg contract already forbids
# in-place metadata rewrites (the guard exists only for test tmp-dirs).
from collections import OrderedDict as _OrderedDict
from threading import Lock as _Lock

_AVRO_CACHE: "_OrderedDict[tuple, tuple]" = _OrderedDict()
_AVRO_CACHE_MAX = 256
#: r15: ALSO bound the cache by total decoded RECORDS — a manifest entry
#: holds ~15 column values plus its raw stat run, so 256 files x
#: 1000-entry manifests would still pin hundreds of MB of driver heap; the
#: record budget keeps the cache O(constant) however large individual
#: manifests get
_AVRO_CACHE_MAX_RECORDS = 200_000
_AVRO_CACHE_RECORDS = [0]
# planning runs concurrently (distributed fixture builders, parallel
# tests): get/move_to_end racing another thread's eviction popitem()
# raised KeyError without the lock (ADVICE r9). The lock guards only the
# dict bookkeeping — the Avro decode itself runs unlocked, so two threads
# may redundantly decode the same cold file but never corrupt the LRU.
_AVRO_CACHE_LOCK = _Lock()


def clear_manifest_cache() -> None:
    """Drop every cached decode and reset the record-weight counter —
    clearing the dict directly would leave the counter drifted and the
    budget permanently evicting (r15)."""
    with _AVRO_CACHE_LOCK:
        _AVRO_CACHE.clear()
        _AVRO_CACHE_RECORDS[0] = 0


def _read_avro_cached(path: str, what: str):
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return _read_avro_clean(path, what)
    key = (path, st.st_size, st.st_mtime_ns)
    with _AVRO_CACHE_LOCK:
        hit = _AVRO_CACHE.get(key)
        if hit is not None:
            _AVRO_CACHE.move_to_end(key)
            return hit
    out = _read_avro_clean(path, what)
    with _AVRO_CACHE_LOCK:
        if key not in _AVRO_CACHE:
            _AVRO_CACHE_RECORDS[0] += len(out[2])
        _AVRO_CACHE[key] = out
        while _AVRO_CACHE and (
                len(_AVRO_CACHE) > _AVRO_CACHE_MAX
                or (_AVRO_CACHE_RECORDS[0] > _AVRO_CACHE_MAX_RECORDS
                    and len(_AVRO_CACHE) > 1)):
            _, old = _AVRO_CACHE.popitem(last=False)
            _AVRO_CACHE_RECORDS[0] -= len(old[2])
    return out


@dataclass(slots=True)
class FieldSummary:
    contains_null: bool = False
    contains_nan: Optional[bool] = None
    lower_bound: Optional[bytes] = None
    upper_bound: Optional[bytes] = None


@dataclass(slots=True)
class ManifestFile:
    manifest_path: str
    manifest_length: int
    partition_spec_id: int
    content: int  # MANIFEST_DATA | MANIFEST_DELETES
    sequence_number: int
    min_sequence_number: int
    added_snapshot_id: int
    added_files_count: int = 0
    existing_files_count: int = 0
    deleted_files_count: int = 0
    added_rows_count: int = 0
    existing_rows_count: int = 0
    deleted_rows_count: int = 0
    partitions: list[FieldSummary] = field(default_factory=list)
    first_row_id: Optional[int] = None


#: the per-column stat maps of a data file, in manifest field order; a
#: manifest read keeps them as one undecoded run per entry
_LAZY_STATS = ("column_sizes", "value_counts", "null_value_counts",
               "nan_value_counts", "lower_bounds", "upper_bounds")

#: what all six stat slots of a not-yet-decoded entry hold
_RawStats = avro_io.RawRun


@dataclass(slots=True)
class _DataFileFields:
    """The fields and slots of :class:`DataFile`, without its lazy stat
    properties."""
    content: int  # CONTENT_*
    file_path: str
    file_format: str
    partition: dict[str, Any]  # keyed by partition field name
    record_count: int
    file_size_in_bytes: int
    column_sizes: Optional[dict[int, int]] = None
    value_counts: Optional[dict[int, int]] = None
    null_value_counts: Optional[dict[int, int]] = None
    nan_value_counts: Optional[dict[int, int]] = None
    lower_bounds: Optional[dict[int, bytes]] = None
    upper_bounds: Optional[dict[int, bytes]] = None
    key_metadata: Optional[bytes] = None
    split_offsets: Optional[list[int]] = None
    equality_ids: Optional[list[int]] = None
    sort_order_id: Optional[int] = None
    referenced_data_file: Optional[str] = None
    content_offset: Optional[int] = None
    content_size_in_bytes: Optional[int] = None
    first_row_id: Optional[int] = None


class DataFile(_DataFileFields):
    """A manifest's data (or delete) file.

    The six stat maps are properties over their slots. An entry built by
    the manifest reader stores one shared :data:`_RawStats` placeholder
    in all six slots; the first read of any of them decodes all six once
    (:func:`_materialize`). Pruning on identity partition values alone
    never reads them. An undecoded entry pickles its placeholder, so it
    crosses the executor boundary as bytes."""

    __slots__ = ()

    def __reduce__(self):
        return _data_file, _DATA_FILE_SLOTS(self)


def _data_file(*values) -> DataFile:
    """A DataFile from its slot values as stored, built without running
    the stat properties' setters (the unpickling path; the manifest reader
    does the same inline): made as the plain dataclass and then
    re-classed, which the identical slot layout allows."""
    df = _DataFileFields(*values)
    df.__class__ = DataFile
    return df


def _materialize(df: DataFile, raw: "_RawStats") -> None:
    """Fill every stat slot of ``df`` that still holds ``raw``. The
    decoded values stay on the run, which every entry read from the same
    cached record shares, so each entry gets its own copies."""
    values = avro_io.decode_run(raw)
    for name, slot in _STAT_SLOTS.items():
        if slot.__get__(df) is raw:  # a stat set since keeps its value
            v = values.get(name)
            slot.__set__(df, None if v is None else dict(v))


def _lazy_stat(slot):
    get = slot.__get__

    def read(self):
        v = get(self)
        if type(v) is _RawStats:
            _materialize(self, v)
            v = get(self)
        return v
    return property(read, slot.__set__)


_STAT_SLOTS = {name: getattr(_DataFileFields, name) for name in _LAZY_STATS}
for _name, _slot in _STAT_SLOTS.items():
    setattr(DataFile, _name, _lazy_stat(_slot))
    # the slot itself, under a private name: read and written as stored
    setattr(DataFile, "_" + _name, _slot)
del _name, _slot


def stored_stats(df: DataFile) -> tuple:
    """The six stat slots as stored, without decoding: a not-yet-decoded
    entry shows its placeholder."""
    return _STORED_STATS(df)


@dataclass(slots=True)
class ManifestEntry:
    status: int
    snapshot_id: Optional[int]
    sequence_number: Optional[int]
    file_sequence_number: Optional[int]
    data_file: DataFile

    def __reduce__(self):
        return type(self), _MANIFEST_ENTRY_VALUES(self)


# Entries cross the executor → driver boundary in bulk (the distributed
# planner pickles every surviving entry): a (constructor, positional field
# values) reduction unpickles through one constructor call, where the
# default slots-dataclass pickle restores attribute by attribute and
# spells out every field name per entry. A DataFile reduces to its slots
# as stored, so an undecoded entry ships its raw stat run.
_DATA_FILE_SLOTS = attrgetter(*(
    "_" + f.name if f.name in _STAT_SLOTS else f.name
    for f in fields(DataFile)))
_STORED_STATS = attrgetter(*("_" + name for name in _LAZY_STATS))
_MANIFEST_ENTRY_VALUES = attrgetter(*(f.name for f in fields(ManifestEntry)))


# ---------------------------------------------------------------------------
# Avro schemas
# ---------------------------------------------------------------------------

def _fs_field(name: str, typ: Any, fid: int, doc: str | None = None, optional: bool = True) -> dict:
    f: dict[str, Any] = {"name": name, "type": ["null", typ] if optional else typ, "field-id": fid}
    if optional:
        f["default"] = None
    return f


FIELD_SUMMARY_SCHEMA = {
    "type": "record",
    "name": "r508",
    "fields": [
        {"name": "contains_null", "type": "boolean", "field-id": 509},
        _fs_field("contains_nan", "boolean", 518),
        _fs_field("lower_bound", "bytes", 510),
        _fs_field("upper_bound", "bytes", 511),
    ],
}

MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517, "default": 0},
        {"name": "sequence_number", "type": "long", "field-id": 515, "default": 0},
        {"name": "min_sequence_number", "type": "long", "field-id": 516, "default": 0},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504, "aliases": ["added_data_files_count"]},
        {"name": "existing_files_count", "type": "int", "field-id": 505, "aliases": ["existing_data_files_count"]},
        {"name": "deleted_files_count", "type": "int", "field-id": 506, "aliases": ["deleted_data_files_count"]},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        _fs_field("partitions", {"type": "array", "items": FIELD_SUMMARY_SCHEMA, "element-id": 508}, 507),
        _fs_field("first_row_id", "long", 520),
    ],
}


def _kv_map(name: str, fid: int, key_id: int, value_id: int, value_type: str) -> Any:
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": value_type, "field-id": value_id},
            ],
        },
    }


def iceberg_to_avro_type(t: Any, fid_hint: int = 0) -> Any:
    """Iceberg type → Avro schema (for partition-struct values)."""
    if isinstance(t, str):
        name = ice_types.primitive_name(t)
        if name == "boolean":
            return "boolean"
        if name == "int":
            return "int"
        if name == "long":
            return "long"
        if name == "float":
            return "float"
        if name == "double":
            return "double"
        if name == "date":
            return {"type": "int", "logicalType": "date"}
        if name == "time":
            return {"type": "long", "logicalType": "time-micros"}
        if name in ("timestamp", "timestamp_ns"):
            return {"type": "long", "logicalType": "timestamp-micros", "adjust-to-utc": False}
        if name in ("timestamptz", "timestamptz_ns"):
            return {"type": "long", "logicalType": "timestamp-micros", "adjust-to-utc": True}
        if name == "string":
            return "string"
        if name == "uuid":
            return {"type": "fixed", "name": f"uuid_{fid_hint}", "size": 16, "logicalType": "uuid"}
        if name in ("binary", "geometry"):
            return "bytes"
        if name == "fixed":
            import re as _re

            m = _re.match(r"fixed\[(\d+)\]", t)
            return {"type": "fixed", "name": f"fixed_{fid_hint}", "size": int(m.group(1))}
        if name == "decimal":
            p, s = ice_types.decimal_precision_scale(t)
            nbytes = (p + 2) // 2 + 1  # generous fixed size
            return {
                "type": "fixed", "name": f"decimal_{fid_hint}", "size": nbytes,
                "logicalType": "decimal", "precision": p, "scale": s,
            }
    raise ValueError(f"unsupported partition value type {t!r}")


def _source_field(tm: TableMetadata, source_id: int):
    """Partition/sort source field by id — top-level or nested struct
    member (nested partition sources: hour_struct_timestamp.test)."""
    src = tm.field_by_id(source_id)
    if src is not None:
        return src
    hit = tm.field_path_by_id(source_id)
    return hit[1] if hit else None


def partition_avro_schema(spec: PartitionSpec, tm: TableMetadata) -> dict:
    """Build the dynamic r102 partition record schema for a spec."""
    from ..plans.transforms import transform_result_type

    fields = []
    for pf in spec.fields:
        src = _source_field(tm, pf.source_id)
        src_type = src["type"] if src else "string"
        rt = transform_result_type(pf.transform, src_type)
        if rt is None:  # void
            rt = src_type if isinstance(src_type, str) else "string"
        fields.append(_fs_field(pf.name, iceberg_to_avro_type(rt, pf.field_id), pf.field_id))
    return {"type": "record", "name": "r102", "fields": fields}


def manifest_entry_schema(partition_schema: dict, format_version: int = 2) -> dict:
    data_file_fields = [
        {"name": "content", "type": "int", "field-id": 134, "default": 0},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition", "type": partition_schema, "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        _fs_field("column_sizes", _kv_map("k117_v118", 108, 117, 118, "long"), 108),
        _fs_field("value_counts", _kv_map("k119_v120", 109, 119, 120, "long"), 109),
        _fs_field("null_value_counts", _kv_map("k121_v122", 110, 121, 122, "long"), 110),
        _fs_field("nan_value_counts", _kv_map("k138_v139", 137, 138, 139, "long"), 137),
        _fs_field("lower_bounds", _kv_map("k126_v127", 125, 126, 127, "bytes"), 125),
        _fs_field("upper_bounds", _kv_map("k129_v130", 128, 129, 130, "bytes"), 128),
        _fs_field("key_metadata", "bytes", 131),
        _fs_field("split_offsets", {"type": "array", "items": "long", "element-id": 133}, 132),
        _fs_field("equality_ids", {"type": "array", "items": "int", "element-id": 136}, 135),
        _fs_field("sort_order_id", "int", 140),
    ]
    if format_version >= 3:
        data_file_fields += [
            _fs_field("first_row_id", "long", 142),
            _fs_field("referenced_data_file", "string", 143),
            _fs_field("content_offset", "long", 144),
            _fs_field("content_size_in_bytes", "long", 145),
        ]
    else:
        data_file_fields += [_fs_field("referenced_data_file", "string", 143)]
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            _fs_field("snapshot_id", "long", 1),
            _fs_field("sequence_number", "long", 3),
            _fs_field("file_sequence_number", "long", 4),
            {
                "name": "data_file",
                "type": {"type": "record", "name": "r2", "fields": data_file_fields},
                "field-id": 2,
            },
        ],
    }


# ---------------------------------------------------------------------------
# decode helpers (reading manifests written by any engine)
# ---------------------------------------------------------------------------

def _as_int_map(v: Any) -> Optional[dict[int, Any]]:
    if v is None:
        return None
    if isinstance(v, dict):  # real avro map with string keys
        return {int(k): x for k, x in v.items()}
    return {int(e["key"]): e["value"] for e in v}


def read_manifest_list(path: str) -> list[ManifestFile]:
    _, _, records = _read_avro_cached(path, "manifest list")
    out = []
    for r in records:
        parts = []
        for p in r.get("partitions") or []:
            parts.append(
                FieldSummary(
                    contains_null=bool(p.get("contains_null")),
                    contains_nan=p.get("contains_nan"),
                    lower_bound=p.get("lower_bound"),
                    upper_bound=p.get("upper_bound"),
                )
            )
        out.append(
            ManifestFile(
                manifest_path=r["manifest_path"],
                manifest_length=r.get("manifest_length", 0),
                partition_spec_id=r.get("partition_spec_id", 0),
                content=r.get("content", 0) or 0,
                sequence_number=r.get("sequence_number", 0) or 0,
                min_sequence_number=r.get("min_sequence_number", 0) or 0,
                added_snapshot_id=r.get("added_snapshot_id", 0) or 0,
                added_files_count=r.get("added_files_count", r.get("added_data_files_count", 0)) or 0,
                existing_files_count=r.get("existing_files_count", r.get("existing_data_files_count", 0)) or 0,
                deleted_files_count=r.get("deleted_files_count", r.get("deleted_data_files_count", 0)) or 0,
                added_rows_count=r.get("added_rows_count", 0) or 0,
                existing_rows_count=r.get("existing_rows_count", 0) or 0,
                deleted_rows_count=r.get("deleted_rows_count", 0) or 0,
                partitions=parts,
                first_row_id=r.get("first_row_id"),
            )
        )
    return out


def _read_avro_clean(path: str, what: str):
    """Read a metadata Avro file, converting decoder failures on
    corrupt/truncated/foreign files into a user-facing error naming the
    file — a damaged table must fail with a diagnosis, not an IndexError
    from the varint decoder (spirit of the reference's bad-data tests)."""
    try:
        # a manifest decodes into columns, its stat maps left undecoded
        return avro_io.read_avro_file(
            path, raw=_LAZY_STATS if what == "manifest" else None)
    except (FileNotFoundError, PermissionError):
        raise
    except Exception as e:
        raise ValueError(f"{path}: cannot read Iceberg {what} "
                         f"(corrupt or not Avro: {e})") from e


class ManifestEntries(Sequence):
    """A manifest's entries. ``columns`` is the manifest's
    :class:`avro_io.ColumnTable`, shared with the manifest cache; the
    :class:`ManifestEntry` items are built from it on first access, once
    per read, so callers may mutate them. Compares equal to a list of the
    same entries and pickles as that list."""

    __slots__ = ("columns", "_entries")

    def __init__(self, columns: avro_io.ColumnTable):
        self.columns = columns
        self._entries: Optional[list[ManifestEntry]] = None

    def _list(self) -> list[ManifestEntry]:
        if self._entries is None:
            self._entries = manifest_entries(self.columns)
        return self._entries

    def __len__(self) -> int:
        return len(self.columns)

    def __getitem__(self, i):
        return self._list()[i]

    def __iter__(self):
        return iter(self._list())

    def __eq__(self, other) -> bool:
        if isinstance(other, ManifestEntries):
            other = other._list()
        if not isinstance(other, list):
            return NotImplemented
        return self._list() == other

    def __reduce__(self):
        return list, (self._list(),)

    def __repr__(self) -> str:
        return repr(self._list())


def read_manifest(path: str) -> ManifestEntries:
    _, _, columns = _read_avro_cached(path, "manifest")
    return ManifestEntries(columns)


def column(cols: avro_io.ColumnTable, name: str, default: Any = None
           ) -> list:
    """Column ``name``, or ``default`` for every row when the writer
    schema has no such field."""
    col = cols.get(name)
    return [default] * len(cols) if col is None else col


#: the columns a manifest read keeps for a planned data file: the
#: ``DataFile`` fields, the stat run and the entry's sequence number
TASK_COLUMNS = tuple(f.name for f in fields(_DataFileFields)) + (
    avro_io.RAW, "sequence_number")


def data_files(cols: avro_io.ColumnTable) -> list[DataFile]:
    """A :class:`DataFile` per row. A row's stats are, by its stat-run
    value: ``bytes``, one undecoded run shared by the six slots; a tuple
    of the six maps in :data:`_LAZY_STATS` order (decoded already); None
    or no run column, the maps of the eagerly decoded stat columns, or
    None."""
    names = cols.struct_names.get("partition", ())
    key = cols.run_key
    stat_cols = [cols.get(name) for name in _LAZY_STATS]
    eager = (zip(*(repeat(None) if c is None else map(_as_int_map, c)
                   for c in stat_cols))
             if any(c is not None for c in stat_cols)
             else repeat((None,) * 6))
    out = []
    append = out.append
    for (content, path, fmt, partition, count, size, raw, (
            cs, vc, nc, nan, lo, hi), key_md, splits, eq_ids, sort_id, ref,
            offset, content_size, first_row_id) in zip(
            column(cols, "content"), cols["file_path"],
            column(cols, "file_format", "PARQUET"),
            column(cols, "partition"), column(cols, "record_count"),
            column(cols, "file_size_in_bytes"), column(cols, avro_io.RAW),
            eager, *(column(cols, name) for name in (
                "key_metadata", "split_offsets", "equality_ids",
                "sort_order_id", "referenced_data_file", "content_offset",
                "content_size_in_bytes", "first_row_id"))):
        if type(raw) is bytes:
            cs = vc = nc = nan = lo = hi = avro_io.RawRun(key, raw)
        elif raw is not None:
            cs, vc, nc, nan, lo, hi = raw
        df = _DataFileFields(
            content or 0, path, fmt,
            dict(zip(names, partition)) if partition else {},
            count or 0, size or 0, cs, vc, nc, nan, lo, hi, key_md, splits,
            eq_ids, sort_id, ref, offset, content_size, first_row_id)
        df.__class__ = DataFile  # as _data_file does
        append(df)
    return out


def manifest_entries(cols: avro_io.ColumnTable) -> list[ManifestEntry]:
    """A :class:`ManifestEntry` per row of a manifest's columns."""
    return [ManifestEntry(status, snapshot_id, seq, file_seq, df)
            for status, snapshot_id, seq, file_seq, df in zip(
                column(cols, "status", STATUS_ADDED),
                column(cols, "snapshot_id"),
                column(cols, "sequence_number"),
                column(cols, "file_sequence_number"), data_files(cols))]


def row_stats(cols: avro_io.ColumnTable, i: int) -> tuple:
    """Row ``i``'s six stat maps in :data:`_LAZY_STATS` order, decoded
    from its stat run (or its eagerly decoded stat columns) on every
    call."""
    raw = cols.get(avro_io.RAW)
    if raw is not None:
        values = avro_io.decode_run(avro_io.RawRun(cols.run_key, raw[i]))
        return tuple(values.get(name) for name in _LAZY_STATS)
    return tuple(None if (c := cols.get(name)) is None else _as_int_map(c[i])
                 for name in _LAZY_STATS)


def inherited_first_row_ids(status, content, record_count, first_row_id,
                            manifest_first_row_id: Optional[int]) -> list:
    """v3 row-lineage inheritance (Iceberg spec 'Row Lineage' / 'First Row
    ID Inheritance') over a manifest's columns, in manifest order: an
    ADDED data entry whose ``first_row_id`` is null inherits the
    manifest's first_row_id plus the cumulative record_count of the
    *preceding inherited* (null first_row_id) ADDED data files in the
    manifest — files carrying an explicit first_row_id do NOT advance the
    running offset (reference: bound_iceberg_manifest_list_entry.cpp
    BindEntry, which bumps next_row_id only when the entry's id was
    inherited). Must see the FULL manifest, BEFORE any filtering —
    dropping earlier entries would shift the running offsets. Returns the
    new ``first_row_id`` column."""
    out = list(first_row_id)
    if manifest_first_row_id is None:
        return out
    rid = manifest_first_row_id
    for i, (s, c, n) in enumerate(zip(status, content, record_count)):
        if s == STATUS_ADDED and not c and out[i] is None:
            out[i] = rid
            rid += n or 0
    return out


def inherit_first_row_ids(entries: list[ManifestEntry],
                          manifest_first_row_id: Optional[int]) -> None:
    """:func:`inherited_first_row_ids` applied to ``entries`` in place."""
    if manifest_first_row_id is None:
        return
    dfs = [e.data_file for e in entries]
    ids = inherited_first_row_ids(
        (e.status for e in entries), (df.content for df in dfs),
        (df.record_count for df in dfs), (df.first_row_id for df in dfs),
        manifest_first_row_id)
    for df, rid in zip(dfs, ids):
        df.first_row_id = rid


# ---------------------------------------------------------------------------
# encode helpers (writing our own manifests)
# ---------------------------------------------------------------------------

def _kv_records(m: Optional[dict[int, Any]]) -> Optional[list[dict]]:
    if m is None:
        return None
    return [{"key": int(k), "value": v} for k, v in sorted(m.items())]


def _encode_partition_value(avro_type: Any, v: Any) -> Any:
    """Convert a Python partition value into its Avro representation."""
    import datetime as dt
    from decimal import Decimal

    if v is None:
        return None
    if isinstance(avro_type, dict):
        lt = avro_type.get("logicalType")
        if lt == "date" and isinstance(v, dt.date):
            return (v - dt.date(1970, 1, 1)).days
        if lt == "time-micros" and isinstance(v, dt.time):
            return ((v.hour * 60 + v.minute) * 60
                    + v.second) * 1_000_000 + v.microsecond
        if lt == "timestamp-micros" and isinstance(v, dt.datetime):
            if v.tzinfo is not None:
                return int(v.timestamp() * 1_000_000)
            epoch = dt.datetime(1970, 1, 1)
            delta = v - epoch
            return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds
        if lt == "decimal":
            from .types import DEC38
            unscaled = int(Decimal(v).scaleb(avro_type["scale"], context=DEC38).to_integral_value())
            return unscaled.to_bytes(avro_type["size"], "big", signed=True)
        if lt == "uuid":
            return _uuid.UUID(str(v)).bytes
    return v


def resolve_avro_codec(properties: dict | None) -> str:
    """``write.manifest.compression-codec`` → Avro codec (reference:
    iceberg_avro_codec.cpp ResolveAvroCodec — gzip/deflate → deflate,
    none/null/uncompressed → null, default deflate; anything else is an
    error, never silently uncompressed)."""
    v = (properties or {}).get("write.manifest.compression-codec", "")
    if not v:
        return "deflate"
    lv = str(v).lower()
    if lv in ("gzip", "deflate"):
        return "deflate"
    if lv in ("none", "null", "uncompressed"):
        return "null"
    raise NotImplementedError(
        f"Unsupported value {v!r} for 'write.manifest.compression-codec'; "
        "supported: 'gzip'/'deflate' and 'none'/'uncompressed'")


def write_manifest(
    path: str,
    entries: list[ManifestEntry],
    tm: TableMetadata,
    spec: PartitionSpec,
    content: int = MANIFEST_DATA,
) -> ManifestFile:
    part_schema = partition_avro_schema(spec, tm)
    schema = manifest_entry_schema(part_schema, tm.format_version)
    avro_part_types = {f["name"]: f["type"] for f in part_schema["fields"]}

    recs = []
    for e in entries:
        df = e.data_file
        part = {}
        for pf_name, pf_type in avro_part_types.items():
            raw = df.partition.get(pf_name)
            branch = pf_type[1] if isinstance(pf_type, list) else pf_type
            part[pf_name] = _encode_partition_value(branch, raw)
        recs.append(
            {
                "status": e.status,
                "snapshot_id": e.snapshot_id,
                "sequence_number": e.sequence_number,
                "file_sequence_number": e.file_sequence_number,
                "data_file": {
                    "content": df.content,
                    "file_path": df.file_path,
                    "file_format": df.file_format,
                    "partition": part,
                    "record_count": df.record_count,
                    "file_size_in_bytes": df.file_size_in_bytes,
                    "column_sizes": _kv_records(df.column_sizes),
                    "value_counts": _kv_records(df.value_counts),
                    "null_value_counts": _kv_records(df.null_value_counts),
                    "nan_value_counts": _kv_records(df.nan_value_counts),
                    "lower_bounds": _kv_records(df.lower_bounds),
                    "upper_bounds": _kv_records(df.upper_bounds),
                    "key_metadata": df.key_metadata,
                    "split_offsets": df.split_offsets,
                    "equality_ids": df.equality_ids,
                    "sort_order_id": df.sort_order_id,
                    "referenced_data_file": df.referenced_data_file,
                    "content_offset": df.content_offset,
                    "content_size_in_bytes": df.content_size_in_bytes,
                    "first_row_id": df.first_row_id,
                },
            }
        )
    meta = {
        "schema": avro_io.json.dumps(tm.schema_json()),
        "schema-id": str(tm.current_schema_id),
        "partition-spec": avro_io.json.dumps([f.to_json() for f in spec.fields]),
        "partition-spec-id": str(spec.spec_id),
        "format-version": str(tm.format_version),
        "content": "data" if content == MANIFEST_DATA else "deletes",
    }
    avro_io.write_avro_file(path, schema, recs, metadata=meta,
                            codec=resolve_avro_codec(tm.properties))
    from .. import io as fio

    length = fio.get_io(path).size(path)

    # build manifest-list entry with partition field summaries
    summaries: list[FieldSummary] = []
    for pf in spec.fields:
        src = _source_field(tm, pf.source_id)
        from ..plans.transforms import transform_result_type

        rt = transform_result_type(pf.transform, src["type"] if src else "string")
        lo = hi = None
        has_null = False
        for e in entries:
            if e.status == STATUS_DELETED:
                continue
            v = e.data_file.partition.get(pf.name)
            if v is None:
                has_null = True
                continue
            if lo is None or _cmp_key(v) < _cmp_key(lo):
                lo = v
            if hi is None or _cmp_key(v) > _cmp_key(hi):
                hi = v
        summaries.append(
            FieldSummary(
                contains_null=has_null,
                contains_nan=None,
                lower_bound=ice_types.encode_bound(rt, lo) if rt else None,
                upper_bound=ice_types.encode_bound(rt, hi) if rt else None,
            )
        )

    live = [e for e in entries if e.status != STATUS_DELETED]
    seqs = [e.sequence_number for e in entries if e.sequence_number is not None]
    return ManifestFile(
        manifest_path=path,
        manifest_length=length,
        partition_spec_id=spec.spec_id,
        content=content,
        sequence_number=max(seqs) if seqs else tm.last_sequence_number,
        min_sequence_number=min(seqs) if seqs else tm.last_sequence_number,
        added_snapshot_id=0,  # caller patches
        added_files_count=sum(1 for e in entries if e.status == STATUS_ADDED),
        existing_files_count=sum(1 for e in entries if e.status == STATUS_EXISTING),
        deleted_files_count=sum(1 for e in entries if e.status == STATUS_DELETED),
        added_rows_count=sum(e.data_file.record_count for e in entries if e.status == STATUS_ADDED),
        existing_rows_count=sum(e.data_file.record_count for e in entries if e.status == STATUS_EXISTING),
        deleted_rows_count=sum(e.data_file.record_count for e in entries if e.status == STATUS_DELETED),
        partitions=summaries,
    )


def _cmp_key(v: Any) -> Any:
    return v


def write_manifest_list(path: str, manifests: list[ManifestFile], snapshot_id: int,
                        parent_snapshot_id: int | None, sequence_number: int,
                        format_version: int = 2,
                        properties: dict | None = None) -> None:
    recs = []
    for m in manifests:
        recs.append(
            {
                "manifest_path": m.manifest_path,
                "manifest_length": m.manifest_length,
                "partition_spec_id": m.partition_spec_id,
                "content": m.content,
                "sequence_number": m.sequence_number,
                "min_sequence_number": m.min_sequence_number,
                "added_snapshot_id": m.added_snapshot_id,
                "added_files_count": m.added_files_count,
                "existing_files_count": m.existing_files_count,
                "deleted_files_count": m.deleted_files_count,
                "added_rows_count": m.added_rows_count,
                "existing_rows_count": m.existing_rows_count,
                "deleted_rows_count": m.deleted_rows_count,
                "partitions": [
                    {
                        "contains_null": s.contains_null,
                        "contains_nan": s.contains_nan,
                        "lower_bound": s.lower_bound,
                        "upper_bound": s.upper_bound,
                    }
                    for s in m.partitions
                ] or None,
                "first_row_id": m.first_row_id,
            }
        )
    meta = {
        "snapshot-id": str(snapshot_id),
        "parent-snapshot-id": str(parent_snapshot_id) if parent_snapshot_id else "null",
        "sequence-number": str(sequence_number),
        "format-version": str(format_version),
    }
    avro_io.write_avro_file(path, MANIFEST_LIST_SCHEMA, recs, metadata=meta,
                            codec=resolve_avro_codec(properties))
