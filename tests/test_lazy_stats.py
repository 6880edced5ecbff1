"""Late-materialized manifest stats: a manifest read keeps each entry's six
stat maps as one undecoded byte run and decodes them on first access.
Metadata only: no Spark session and no data files."""

import copy
import dataclasses
import datetime as dt
import gc
import io
import json
import pickle
import tracemalloc
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from duckdb_iceberg_spark.metadata import avro_io
from duckdb_iceberg_spark.metadata import manifest as mf
from duckdb_iceberg_spark.metadata import types as ice_types
from duckdb_iceberg_spark.plans.scan_plan import plan_scan, strip_file_stats

from .test_bound_file_filter import _metadata_only_table, _range_table


class _TM:  # minimal stand-in: unpartitioned table of a format version
    current_schema_id = 0
    last_sequence_number = 1
    properties: dict = {}

    def __init__(self, format_version):
        self.format_version = format_version

    @staticmethod
    def schema_json():
        return {"type": "struct", "schema-id": 0, "fields": []}


_SPEC = mf.PartitionSpec(spec_id=0, fields=[])


def _entries(n, *, nan=True, sizes=True):
    out = []
    for i in range(n):
        enc = ice_types.encode_bound
        out.append(mf.ManifestEntry(
            status=mf.STATUS_ADDED, snapshot_id=7, sequence_number=1,
            file_sequence_number=1,
            data_file=mf.DataFile(
                content=mf.CONTENT_DATA, file_path=f"/t/data/f{i}.parquet",
                file_format="PARQUET", partition={}, record_count=10 + i,
                file_size_in_bytes=1000 + i,
                column_sizes={1: 40 + i, 2: 80} if sizes else None,
                value_counts={1: 10 + i, 2: 10 + i},
                null_value_counts={1: 0, 2: i % 3},
                nan_value_counts={2: i % 2} if nan else None,
                lower_bounds={1: enc("int", i), 2: enc("double", -1.5)},
                upper_bounds={1: enc("int", i + 9), 2: enc("double", 2.5)},
                split_offsets=[4], sort_order_id=0,
                first_row_id=100 * i)))
    return out


def _undecoded(df) -> bool:
    return all(type(v) is avro_io.RawRun for v in mf.stored_stats(df))


def _read_eager(path, monkeypatch):
    with monkeypatch.context() as m:
        m.setattr(mf, "_read_avro_clean",
                  lambda p, what: avro_io.read_avro_file(p, raw=()))
        mf.clear_manifest_cache()
        out = mf.read_manifest(path)
    mf.clear_manifest_cache()
    return out


def _assert_same(lazy, eager):
    assert len(lazy) == len(eager)
    for a, b in zip(lazy, eager):
        for f in dataclasses.fields(mf.DataFile):
            assert getattr(a.data_file, f.name) == \
                getattr(b.data_file, f.name), f.name
        assert a == b


@pytest.mark.parametrize("version", [2, 3])
@pytest.mark.parametrize("nan", [True, False])
@pytest.mark.parametrize("sizes", [True, False])
def test_lazy_read_equals_eager_read(tmp_path, monkeypatch, version, nan,
                                     sizes):
    path = str(tmp_path / "m.avro")
    mf.write_manifest(path, _entries(5, nan=nan, sizes=sizes),
                      _TM(version), _SPEC)
    mf.clear_manifest_cache()
    lazy = mf.read_manifest(path)
    assert all(_undecoded(e.data_file) for e in lazy)
    eager = _read_eager(path, monkeypatch)
    assert not any(type(v) is avro_io.RawRun
                   for e in eager for v in mf.stored_stats(e.data_file))
    _assert_same(lazy, eager)
    if not nan:
        assert lazy[0].data_file.nan_value_counts is None
    if not sizes:
        assert lazy[0].data_file.column_sizes is None

    # an undecoded entry written back (a manifest rewrite) keeps its stats
    again = mf.read_manifest(path)
    out = str(tmp_path / "m2.avro")
    mf.write_manifest(out, again, _TM(version), _SPEC)
    _assert_same(mf.read_manifest(out), eager)


def test_one_decode_fills_all_six_and_keeps_a_set_stat(tmp_path,
                                                       monkeypatch):
    path = str(tmp_path / "m.avro")
    mf.write_manifest(path, _entries(1), _TM(2), _SPEC)
    mf.clear_manifest_cache()
    calls = []
    real = avro_io.decode_run
    monkeypatch.setattr(avro_io, "decode_run",
                        lambda raw: calls.append(1) or real(raw))
    df = mf.read_manifest(path)[0].data_file
    df.lower_bounds = {1: b"\x00\x00\x00\x00"}  # set before any decode
    assert df.value_counts == {1: 10, 2: 10}
    assert df.upper_bounds and df.null_value_counts and df.column_sizes
    assert len(calls) == 1
    assert df.lower_bounds == {1: b"\x00\x00\x00\x00"}
    assert not any(type(v) is avro_io.RawRun for v in mf.stored_stats(df))


def _rewrite(src, dst, edit_fields, edit_stats=lambda name, kv: kv):
    """Copy the manifest at ``src`` to ``dst`` under an edited
    ``data_file`` schema; ``edit_stats`` maps each stat's key/value list."""
    schema, meta, records = avro_io.read_avro_file(src)
    schema = copy.deepcopy(schema)
    data_file = schema["fields"][-1]["type"]
    data_file["fields"] = edit_fields(data_file["fields"])
    for r in records:
        d = r["data_file"]
        for name in mf._LAZY_STATS:
            if d.get(name) is not None:
                d[name] = edit_stats(name, d[name])
    avro_io.write_avro_file(
        dst, schema, records,
        metadata={k: v for k, v in meta.items()
                  if not k.startswith("avro.")})


def test_stat_fields_absent_from_the_schema_stay_lazy(tmp_path,
                                                      monkeypatch):
    src = str(tmp_path / "m.avro")
    mf.write_manifest(src, _entries(4), _TM(2), _SPEC)
    dst = str(tmp_path / "lean.avro")
    _rewrite(src, dst, lambda fs: [f for f in fs if f["name"] not in (
        "column_sizes", "nan_value_counts")])
    mf.clear_manifest_cache()
    lazy = mf.read_manifest(dst)
    assert all(_undecoded(e.data_file) for e in lazy)
    _assert_same(lazy, _read_eager(dst, monkeypatch))
    assert lazy[0].data_file.column_sizes is None
    assert lazy[0].data_file.nan_value_counts is None
    assert lazy[0].data_file.lower_bounds == \
        _entries(1)[0].data_file.lower_bounds


def test_map_typed_and_non_contiguous_stats_decode_eagerly(tmp_path,
                                                           monkeypatch):
    src = str(tmp_path / "m.avro")
    mf.write_manifest(src, _entries(4), _TM(2), _SPEC)
    mf.clear_manifest_cache()
    expected = _read_eager(src, monkeypatch)

    def as_map(fields):
        for f in fields:
            if f["name"] == "lower_bounds":
                f["type"] = ["null", {"type": "map", "values": "bytes"}]
        return fields

    def split_run(fields):
        moved = [f for f in fields if f["name"] == "key_metadata"]
        rest = [f for f in fields if f["name"] != "key_metadata"]
        at = [f["name"] for f in rest].index("nan_value_counts")
        return rest[:at] + moved + rest[at:]

    for name, edit_fields, edit_stats in [
            ("map", as_map, lambda n, kv: {str(e["key"]): e["value"]
                                           for e in kv}
             if n == "lower_bounds" else kv),
            ("split", split_run, lambda n, kv: kv)]:
        dst = str(tmp_path / f"{name}.avro")
        _rewrite(src, dst, edit_fields, edit_stats)
        _, _, table = avro_io.read_avro_file(dst, raw=mf._LAZY_STATS)
        assert avro_io.RAW not in table, name
        mf.clear_manifest_cache()
        got = mf.read_manifest(dst)
        assert not any(type(v) is avro_io.RawRun
                       for e in got for v in mf.stored_stats(e.data_file))
        _assert_same(got, expected)
    mf.clear_manifest_cache()


def _kv_field(name, key_type, value_type):
    return {"name": name, "type": ["null", {
        "type": "array", "items": {
            "type": "record", "name": f"kv_{name}",
            "fields": [{"name": "key", "type": key_type},
                       {"name": "value", "type": value_type}]}}]}


def _ocf(schema, body: bytes) -> bytes:
    """An uncompressed one-record Avro container file."""
    out = io.BytesIO()
    out.write(avro_io.MAGIC)
    avro_io._write_long(out, 1)
    avro_io._write_str(out, "avro.schema")
    avro_io._write_bytes(out, json.dumps(schema).encode())
    avro_io._write_long(out, 0)
    out.write(b"s" * 16)
    avro_io._write_long(out, 1)
    avro_io._write_long(out, len(body))
    out.write(body)
    out.write(b"s" * 16)
    return out.getvalue()


def test_run_skips_sized_blocks_and_leaves_other_types_eager():
    """A run skips and decodes like the eager reader when a block is
    written with a negative item count followed by its byte size; a
    key/value array of any other types keeps the record eager."""
    fields = [{"name": "a", "type": "int"},
              _kv_field("c", "int", "long"),
              _kv_field("b", "long", "bytes"),
              {"name": "z", "type": "string"}]
    body = io.BytesIO()
    avro_io._write_long(body, 1)
    items = io.BytesIO()  # "c" as one sized block
    for k, v in ((1, 10), (2, 300)):
        avro_io._write_long(items, k)
        avro_io._write_long(items, v)
    avro_io._write_long(body, 1)  # union branch: the array
    avro_io._write_long(body, -2)
    avro_io._write_long(body, len(items.getvalue()))
    body.write(items.getvalue())
    avro_io._write_long(body, 0)
    avro_io._encode(body, fields[2]["type"], [{"key": 7, "value": b"\x01"}])
    avro_io._write_str(body, "end")
    data = _ocf({"type": "record", "name": "r", "fields": fields},
                body.getvalue())

    [eager] = avro_io.read_avro_file(data)[2]
    lazy = avro_io.read_avro_file(data, raw=("c", "b"))[2]
    assert len(lazy) == 1 and lazy["a"] == [1] and lazy["z"] == ["end"]
    run = avro_io.RawRun(lazy.run_key, lazy[avro_io.RAW][0])
    assert avro_io.decode_run(run) == {
        "c": {1: 10, 2: 300}, "b": {7: b"\x01"}}
    assert eager["c"] == [{"key": 1, "value": 10}, {"key": 2, "value": 300}]

    other = [{"name": "a", "type": "int"}, _kv_field("s", "string", "double")]
    body = io.BytesIO()
    avro_io._write_long(body, 1)
    avro_io._encode(body, other[1]["type"], [{"key": "x", "value": 1.5}])
    data = _ocf({"type": "record", "name": "r", "fields": other},
                body.getvalue())
    table = avro_io.read_avro_file(data, raw=("s",))[2]
    assert avro_io.RAW not in table
    assert [{"a": a, "s": kv} for a, kv in zip(table["a"], table["s"])] == \
        avro_io.read_avro_file(data)[2]


def _unpickled_size(blob: bytes) -> int:
    """Bytes an unpickled ``blob`` holds: the least of three measurements
    with the cyclic collector off, so allocations elsewhere in the process
    during one window do not count."""
    sizes = []
    was_enabled = gc.isenabled()
    gc.disable()
    try:
        for _ in range(3):
            tracemalloc.start()
            kept = pickle.loads(blob)  # noqa: F841 (held while measured)
            sizes.append(tracemalloc.get_traced_memory()[0])
            tracemalloc.stop()
            del kept
    finally:
        if was_enabled:
            gc.enable()
    return min(sizes)


def test_undecoded_entry_pickles_as_bytes(tmp_path):
    """An undecoded entry crosses pickle as its raw run: it unpickles
    undecoded and equal, and its stats take under half the memory of
    decoded ones once unpickled. (The pickle itself is about as long
    either way: Avro's key/value encoding is as compact as pickle's.)"""
    path = str(tmp_path / "m.avro")
    mf.write_manifest(path, _entries(40), _TM(2), _SPEC)
    mf.clear_manifest_cache()
    entries = mf.read_manifest(path)
    blob = pickle.dumps(entries)
    back = pickle.loads(blob)
    assert all(_undecoded(e.data_file) for e in back)
    # pickle keeps the placeholder shared by the six slots
    assert len({id(v) for v in mf.stored_stats(back[0].data_file)}) == 1
    no_stats = _unpickled_size(pickle.dumps(
        [dataclasses.replace(e, data_file=strip_file_stats(e.data_file))
         for e in entries]))
    undecoded = _unpickled_size(blob) - no_stats
    assert back == entries  # decodes both sides
    assert not _undecoded(entries[0].data_file)
    decoded = _unpickled_size(pickle.dumps(entries)) - no_stats
    assert 0 < 2 * undecoded < decoded, (undecoded, decoded)


def test_copies_and_strip_keep_stats_undecoded(tmp_path, monkeypatch):
    path = str(tmp_path / "m.avro")
    mf.write_manifest(path, _entries(2), _TM(2), _SPEC)
    mf.clear_manifest_cache()
    df = mf.read_manifest(path)[0].data_file

    def no_decode(raw):
        raise AssertionError("stats decoded")
    with monkeypatch.context() as m:
        m.setattr(avro_io, "decode_run", no_decode)
        clone = copy.deepcopy(df)
        stripped = strip_file_stats(df)
        assert _undecoded(clone) and _undecoded(df)
        assert mf.stored_stats(stripped) == (None,) * 6
        assert stripped.split_offsets is None
        assert strip_file_stats(stripped) is stripped
    assert clone == df
    assert dataclasses.replace(df, record_count=1).lower_bounds == \
        df.lower_bounds


def _identity_table(loc, manifests=10, files=20):
    schema = T.StructType([T.StructField("partition_id", T.IntegerType()),
                           T.StructField("payload", T.LongType())])
    enc = ice_types.encode_bound
    return _metadata_only_table(loc, schema, ["partition_id"], [
        ({"partition_id": p},
         [({1: enc("int", p), 2: enc("long", j)},
           {1: enc("int", p), 2: enc("long", j + 9)}) for j in range(files)])
        for p in range(manifests)])


def test_identity_partition_range_plans_without_decoding(tmp_path):
    mf.clear_manifest_cache()
    tm = _identity_table(str(tmp_path / "t"))
    plan = plan_scan(tm, tm.select_snapshot(),
                     "partition_id >= 3 AND partition_id < 5")
    assert len(plan.tasks) == 2 * 20
    assert all(_undecoded(t.data_file) for t in plan.tasks)


def test_bounds_of_other_columns_still_prune(tmp_path):
    mf.clear_manifest_cache()
    tm = _range_table(str(tmp_path / "t"), 100)
    plan = plan_scan(tm, tm.select_snapshot(), "p >= 2 AND p < 8 AND v >= 500")
    assert plan.stats["files_pruned"] == 6 * 50
    assert len(plan.tasks) == 6 * 50
    assert not any(_undecoded(t.data_file) for t in plan.tasks)


#: source type → (Spark type, Iceberg type, partition value, literals for
#: the value, one below it and one above it)
_IDENTITY_TYPES = {
    "int": (T.IntegerType(), "int", 5, ["5", "4", "6"]),
    "long": (T.LongType(), "long", 5, ["5", "4", "6"]),
    "date": (T.DateType(), "date", dt.date(2024, 1, 5),
             ["DATE '2024-01-05'", "DATE '2024-01-04'", "DATE '2024-01-06'"]),
    "timestamp": (T.TimestampNTZType(), "timestamp",
                  dt.datetime(2024, 1, 5, 12),
                  ["TIMESTAMP '2024-01-05 12:00:00'",
                   "TIMESTAMP '2024-01-05 11:00:00'",
                   "TIMESTAMP '2024-01-05 13:00:00'"]),
    "string": (T.StringType(), "string", "m", ["'m'", "'a'", "'z'"]),
    "decimal": (T.DecimalType(10, 2), "decimal(10, 2)", Decimal("5.25"),
                ["5.25", "5.00", "6.00"]),
    # floats keep reading bounds: a NaN partition value is not a bound
    "double": (T.DoubleType(), "double", 5.5, ["5.5", "4.5", "6.5"]),
    # X'..' literals parse to bytes, compared with the bytes bounds
    "binary": (T.BinaryType(), "binary", b"\x05", ["X'05'", "X'04'",
                                                    "X'06'"]),
}
_GRID = ["k = {v}", "k = {lo}", "k < {v}", "k < {hi}", "k >= {v}",
         "k >= {hi}", "k IN ({lo}, {v})", "k IN ({lo}, {hi})", "k IS NULL",
         "k IS NOT NULL", "k = {lo} OR w > 15", "k = {lo} OR w > 25",
         "k = {v} OR w > 25", "k > {v} OR w < 5"]
#: task counts per grid predicate, recorded before partition values stood
#: in for identity columns' stats (binary's once X'..' literals parsed)
_PARENT_TASKS = {
    "int": [1, 0, 0, 1, 1, 0, 1, 0, 0, 1, 1, 0, 1, 0],
    "long": [1, 0, 0, 1, 1, 0, 1, 0, 0, 1, 1, 0, 1, 0],
    "date": [1, 0, 0, 1, 1, 0, 1, 0, 0, 1, 1, 0, 1, 0],
    "timestamp": [1, 0, 0, 1, 1, 0, 1, 0, 0, 1, 1, 0, 1, 0],
    "string": [1, 0, 0, 1, 1, 0, 1, 0, 0, 1, 1, 0, 1, 0],
    "decimal": [1, 0, 0, 1, 1, 0, 1, 0, 0, 1, 1, 0, 1, 0],
    "double": [1, 0, 0, 1, 1, 0, 1, 0, 0, 1, 1, 0, 1, 0],
    "binary": [1, 0, 0, 1, 1, 0, 1, 0, 0, 1, 1, 0, 1, 0],
}


@pytest.mark.parametrize("name", sorted(_IDENTITY_TYPES))
def test_identity_partition_stats_match_bounds(tmp_path, monkeypatch, name):
    spark_type, ice_type, value, (v, lo, hi) = _IDENTITY_TYPES[name]
    schema = T.StructType([T.StructField("k", spark_type),
                           T.StructField("w", T.LongType())])
    b = ice_types.encode_bound(ice_type, value)
    tm = _metadata_only_table(str(tmp_path / name), schema, ["k"], [
        ({"k": value}, [({1: b, 2: ice_types.encode_bound("long", 10)},
                         {1: b, 2: ice_types.encode_bound("long", 20)})])])
    decodes = []
    real = avro_io.decode_run
    monkeypatch.setattr(avro_io, "decode_run",
                        lambda raw: decodes.append(1) or real(raw))
    got, decoded = [], []
    for pattern in _GRID:
        mf.clear_manifest_cache()
        decodes.clear()
        plan = plan_scan(tm, tm.select_snapshot(),
                         pattern.format(v=v, lo=lo, hi=hi))
        got.append(len(plan.tasks))
        decoded.append(bool(decodes))
    assert got == _PARENT_TASKS[name]
    if name == "double":
        assert decoded[0]  # "k = v" kept the file by reading k's bounds
    else:
        assert not any(d for d, p in zip(decoded, _GRID) if " w " not in p)
    mf.clear_manifest_cache()
