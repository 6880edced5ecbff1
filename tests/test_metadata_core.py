"""Unit tests for the driver-side metadata core (no Spark needed)."""

import datetime as dt
import os
from decimal import Decimal

import pytest

from duckdb_iceberg_spark.metadata import avro_io
from duckdb_iceberg_spark.metadata import types as ice_types
from duckdb_iceberg_spark.plans import predicates as P
from duckdb_iceberg_spark.plans import transforms as tr


def test_avro_roundtrip(tmp_path):
    schema = {
        "type": "record",
        "name": "rec",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "n", "type": "long"},
            {"name": "ob", "type": ["null", "bytes"], "default": None},
            {"name": "arr", "type": {"type": "array", "items": "int"}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
            {
                "name": "nested",
                "type": ["null", {"type": "record", "name": "inner", "fields": [
                    {"name": "x", "type": "double"}]}],
                "default": None,
            },
        ],
    }
    recs = [
        {"s": "héllo", "n": -12345678901234, "ob": b"\x00\x01", "arr": [1, -2, 3],
         "m": {"a": 1, "b": -2}, "nested": {"x": 1.5}},
        {"s": "", "n": 0, "ob": None, "arr": [], "m": {}, "nested": None},
    ]
    path = str(tmp_path / "t.avro")
    avro_io.write_avro_file(path, schema, recs, metadata={"k": "v"})
    rschema, meta, out = avro_io.read_avro_file(path)
    assert out == recs
    assert meta["k"] == b"v"

    # null codec too
    avro_io.write_avro_file(path, schema, recs, codec="null")
    _, _, out2 = avro_io.read_avro_file(path)
    assert out2 == recs


def test_avro_roundtrip_enum_fixed_floats_nested_and_value_first_unions(tmp_path):
    schema = {
        "type": "record",
        "name": "outer",
        "fields": [
            {"name": "e", "type": {"type": "enum", "name": "color",
                                   "symbols": ["RED", "GREEN", "BLUE"]}},
            {"name": "fx", "type": {"type": "fixed", "name": "f4", "size": 4}},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "on", "type": ["long", "null"]},
            {"name": "os", "type": ["string", "null"]},
            {"name": "mid", "type": {"type": "record", "name": "mid", "fields": [
                {"name": "inner", "type": {"type": "record", "name": "inner",
                                           "fields": [{"name": "x", "type": "int"}]}},
                {"name": "xs", "type": {"type": "array", "items": "double"}},
            ]}},
        ],
    }
    recs = [
        {"e": "BLUE", "fx": b"\x00\xff\x10\x7f", "f": 1.5, "d": -2.25e300,
         "b": True, "on": 2**40, "os": None,
         "mid": {"inner": {"x": -7}, "xs": [0.5, float("inf")]}},
        {"e": "RED", "fx": b"abcd", "f": -0.0, "d": 0.1, "b": False,
         "on": None, "os": "ü", "mid": {"inner": {"x": 300}, "xs": []}},
    ]
    path = str(tmp_path / "t.avro")
    for codec in ("deflate", "null"):
        avro_io.write_avro_file(path, schema, recs, codec=codec)
        assert avro_io.read_avro_file(path)[2] == recs


def _ocf(schema, block, count):
    """Hand-built one-block Avro container around a raw ``block``."""
    import io
    import json

    out = io.BytesIO()
    out.write(avro_io.MAGIC)
    avro_io._write_long(out, 2)
    avro_io._write_str(out, "avro.schema")
    avro_io._write_bytes(out, json.dumps(schema).encode())
    avro_io._write_str(out, "avro.codec")
    avro_io._write_bytes(out, b"null")
    avro_io._write_long(out, 0)
    sync = bytes(range(16))
    out.write(sync)
    avro_io._write_long(out, count)
    avro_io._write_long(out, len(block))
    out.write(block)
    out.write(sync)
    return out.getvalue()


def _longs(*values):
    import io

    out = io.BytesIO()
    for v in values:
        avro_io._write_long(out, v)
    return out.getvalue()


def test_avro_negative_block_counts():
    """Java writers may emit array/map blocks with a negative item count
    followed by the block's byte size; our encoder never does."""
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "int"}},
    ]}
    items = _longs(5, -7)
    kv = _longs(1) + b"k" + _longs(3)
    block = (_longs(-2, len(items)) + items + _longs(1, 2**40, 0)
             + _longs(-1, len(kv)) + kv + _longs(0))
    _, _, recs = avro_io.read_avro_file(_ocf(schema, block, 1))
    assert recs == [{"a": [5, -7, 2**40], "m": {"k": 3}}]


def test_avro_readers_are_per_schema():
    """A compiled reader is keyed by the writer schema's full text: equal
    field names with different types must not share one."""
    as_long = {"type": "record", "name": "r",
               "fields": [{"name": "x", "type": "long"}]}
    as_string = {"type": "record", "name": "r",
                 "fields": [{"name": "x", "type": "string"}]}
    long_file = _ocf(as_long, _longs(21), 1)
    string_file = _ocf(as_string, _longs(2) + b"hi", 1)
    for _ in range(2):
        assert avro_io.read_avro_file(long_file)[2] == [{"x": 21}]
        assert avro_io.read_avro_file(string_file)[2] == [{"x": "hi"}]


def test_manifest_dataclasses_pickle_and_copy():
    import copy
    import dataclasses
    import pickle

    from duckdb_iceberg_spark.metadata import manifest as mf
    from duckdb_iceberg_spark.plans.scan_plan import strip_file_stats

    df = mf.DataFile(
        content=mf.CONTENT_EQUALITY_DELETES, file_path="s3://b/t/data/f.parquet",
        file_format="PARQUET", partition={"p": 3, "d": dt.date(2024, 1, 2)},
        record_count=10, file_size_in_bytes=4096,
        column_sizes={1: 100}, value_counts={1: 10}, null_value_counts={1: 0},
        nan_value_counts={1: 0}, lower_bounds={1: b"\x01"},
        upper_bounds={1: b"\x09"}, key_metadata=b"km", split_offsets=[4],
        equality_ids=[1], sort_order_id=0,
        referenced_data_file="s3://b/t/data/g.parquet", content_offset=8,
        content_size_in_bytes=64, first_row_id=1000)
    assert all(getattr(df, f.name) is not None
               for f in dataclasses.fields(df))
    e = mf.ManifestEntry(status=mf.STATUS_ADDED, snapshot_id=7,
                         sequence_number=3, file_sequence_number=2,
                         data_file=df)
    for proto in (4, 5):
        back = pickle.loads(pickle.dumps(e, protocol=proto))
        assert back == e and back is not e
    assert copy.deepcopy(e) == e
    stripped = strip_file_stats(copy.deepcopy(df))
    assert stripped.lower_bounds is None and stripped.split_offsets is None
    assert stripped.file_path == df.file_path and df.lower_bounds == {1: b"\x01"}


# Iceberg spec Appendix B hash test vectors
@pytest.mark.parametrize(
    "value,src_type,expected",
    [
        (34, "int", 2017239379),
        (34, "long", 2017239379),
        (Decimal("14.20"), "decimal(9, 2)", -500754589),
        (dt.date(2017, 11, 16), "date", -653330422),
        (81068000000, "time", -662762989),
        (dt.datetime(2017, 11, 16, 22, 31, 8), "timestamp", -2047944441),
        (dt.datetime(2017, 11, 16, 14, 31, 8,
                     tzinfo=dt.timezone(dt.timedelta(hours=-8))), "timestamptz", -2047944441),
        ("iceberg", "string", 1210000089),
        ("f79c3e09-677c-4bbd-a479-3f349cb785e7", "uuid", 1488055340),
        (b"\x00\x01\x02\x03", "binary", -188683207),
    ],
)
def test_bucket_hash_vectors(value, src_type, expected):
    h = tr.murmur3_32(tr._hash_bytes_for(value, src_type))
    signed = h - (1 << 32) if h >= (1 << 31) else h
    assert signed == expected


def test_bucket_value_mod():
    assert tr.bucket_value(34, 16, "int") == (2017239379 & 0x7FFFFFFF) % 16
    assert tr.bucket_value(None, 16, "int") is None


def test_vectorized_fixed8_murmur_matches_scalar():
    """murmur3_32_fixed8_np (the write-path bucket hash) is bit-identical
    to the scalar murmur over little-endian 8-byte keys: spec vectors plus
    a random sweep including int64 extremes."""
    import struct

    import numpy as np

    rng = np.random.default_rng(7)
    vals = np.concatenate([
        np.array([0, 1, -1, 34, 2**63 - 1, -2**63, 2**31, -2**31],
                 dtype=np.int64),
        rng.integers(-2**63, 2**63 - 1, size=10_000, dtype=np.int64),
    ])
    vec = tr.murmur3_32_fixed8_np(vals)
    for i in (0, 3, 5, 100, 9999):
        assert int(vec[i]) == tr.murmur3_32(struct.pack("<q", int(vals[i])))
    scal = np.array([tr.murmur3_32(struct.pack("<q", int(v))) for v in vals],
                    dtype=np.uint32)
    assert np.array_equal(vec, scal)


def test_vectorized_fixed8_murmur_is_faster_than_loop():
    """The round-4 review's scale finding: the per-row loop inside the
    Arrow batch was the last per-row Python on the write path. Guard the
    fix with a generous 3x bound (measured ~100x on 1M rows; PLANS.md
    records the microbench)."""
    import struct
    import time

    import numpy as np

    vals = np.random.default_rng(3).integers(
        -2**62, 2**62, size=200_000, dtype=np.int64)
    t0 = time.perf_counter()
    vec = tr.murmur3_32_fixed8_np(vals)
    t_vec = time.perf_counter() - t0
    data = vals.astype("<i8").tobytes()
    t0 = time.perf_counter()
    out = np.empty(len(vals), dtype="int64")
    for i in range(len(vals)):
        out[i] = tr.murmur3_32(data[i * 8: i * 8 + 8])
    t_loop = time.perf_counter() - t0
    assert np.array_equal(vec.astype("int64"), out % (1 << 32))
    assert t_loop / max(t_vec, 1e-9) > 3, (t_loop, t_vec)


def test_vectorized_var_murmur_matches_scalar():
    """murmur3_32_var_np (string/binary/decimal/uuid bucket hashing — the
    round-5 review's last per-row-Python finding) is bit-identical to the
    scalar murmur over every length class: empty, 1-3 tails, exact block
    multiples, long strings, and the spec vectors."""
    import numpy as np

    rng = np.random.default_rng(7)
    blobs = [b"", b"a", b"ab", b"abc", b"abcd", b"iceberg",
             "héllo wörld ünïcode".encode("utf-8"),
             bytes(range(256)), b"x" * 1023]
    blobs += [rng.integers(0, 256, size=int(k), dtype=np.uint8).tobytes()
              for k in rng.integers(0, 200, size=50)]
    lengths = np.array([len(b) for b in blobs], dtype=np.int64)
    offsets = np.zeros(len(blobs), dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    buf = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    vec = tr.murmur3_32_var_np(buf, offsets, lengths)
    scal = np.array([tr.murmur3_32(b) for b in blobs], dtype=np.uint32)
    assert np.array_equal(vec, scal)


def test_vectorized_var_murmur_is_faster_than_loop():
    import time

    import numpy as np

    rng = np.random.default_rng(11)
    blobs = [rng.integers(0, 256, size=int(k), dtype=np.uint8).tobytes()
             for k in rng.integers(5, 60, size=100_000)]
    lengths = np.array([len(b) for b in blobs], dtype=np.int64)
    offsets = np.zeros(len(blobs), dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    buf = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    t0 = time.perf_counter()
    vec = tr.murmur3_32_var_np(buf, offsets, lengths)
    t_vec = time.perf_counter() - t0
    t0 = time.perf_counter()
    scal = np.array([tr.murmur3_32(b) for b in blobs], dtype=np.uint32)
    t_loop = time.perf_counter() - t0
    assert np.array_equal(vec, scal)
    assert t_loop / max(t_vec, 1e-9) > 3, (t_loop, t_vec)


def test_truncate():
    assert tr.apply_python("truncate[10]", 7, "int") == 0
    assert tr.apply_python("truncate[10]", -7, "int") == -10
    assert tr.apply_python("truncate[3]", "iceberg", "string") == "ice"
    assert tr.apply_python("truncate[2]", b"abcd", "binary") == b"ab"
    assert tr.apply_python("truncate[50]", Decimal("10.65"), "decimal(9, 2)") == Decimal("10.50")


def test_temporal_transforms():
    d = dt.date(2017, 11, 16)
    assert tr.apply_python("year", d, "date") == 47
    assert tr.apply_python("month", d, "date") == (2017 - 1970) * 12 + 10
    assert tr.apply_python("day", d, "date") == 17486
    ts = dt.datetime(2017, 11, 16, 22, 31, 8)
    assert tr.apply_python("hour", ts, "timestamp") == 17486 * 24 + 22


def test_bound_roundtrip():
    cases = [
        ("int", 42),
        ("long", -1), ("double", 1.5), ("float", 2.0),
        ("string", "abc"),
        ("date", dt.date(2020, 1, 2)),
        ("timestamp", dt.datetime(2020, 1, 2, 3, 4, 5, 123456)),
        ("decimal(9, 2)", Decimal("-123.45")),
        ("binary", b"\x01\x02"),
        ("boolean", True),
    ]
    for t, v in cases:
        b = ice_types.encode_bound(t, v)
        assert ice_types.decode_bound(t, b) == v, t


def test_schema_struct_roundtrip():
    schema_json = {
        "type": "struct", "schema-id": 0,
        "fields": [
            {"id": 1, "name": "id", "required": True, "type": "long"},
            {"id": 2, "name": "name", "required": False, "type": "string"},
            {"id": 3, "name": "meas", "required": False, "type": "decimal(15, 2)"},
            {"id": 4, "name": "addr", "required": False, "type": {
                "type": "struct", "fields": [
                    {"id": 5, "name": "city", "required": False, "type": "string"}]}},
            {"id": 6, "name": "tags", "required": False, "type": {
                "type": "list", "element-id": 7, "element": "string"}},
        ],
    }
    st = ice_types.schema_to_struct(schema_json)
    assert [f.name for f in st.fields] == ["id", "name", "meas", "addr", "tags"]
    assert st["id"].metadata[ice_types.FIELD_ID_KEY] == 1
    back, last = ice_types.struct_to_schema_json(st)
    assert [f["id"] for f in back["fields"]] == [1, 2, 3, 4, 6]


def test_schema_struct_case_collision_suffix_avoids_originals():
    """user_id + uSeR_Id + a genuine uSeR_Id_1: the disambiguation suffix
    must skip names that collide (case-insensitively) with other original
    fields — never emit two uSeR_Id_1 columns."""
    def _schema(names):
        return {"type": "struct", "schema-id": 0, "fields": [
            {"id": i + 1, "name": n, "required": False, "type": "long"}
            for i, n in enumerate(names)]}

    st = ice_types.schema_to_struct(_schema(["user_id", "uSeR_Id", "uSeR_Id_1"]))
    names = [f.name for f in st.fields]
    assert len({n.lower() for n in names}) == 3, names
    assert names[0] == "user_id" and names[2] == "uSeR_Id_1"
    # the plain two-column case keeps the reference golden (uSeR_Id_1)
    st2 = ice_types.schema_to_struct(_schema(["user_id", "uSeR_Id"]))
    assert [f.name for f in st2.fields] == ["user_id", "uSeR_Id_1"]
    # three-way collision still yields unique names
    st3 = ice_types.schema_to_struct(_schema(["a", "A", "a_1", "A_1"]))
    assert len({f.name.lower() for f in st3.fields}) == 4


def test_predicate_parser_and_bounds():
    p = P.parse_where("l_shipdate >= DATE '1994-01-01' AND l_discount BETWEEN 0.05 AND 0.07")
    assert isinstance(p, P.And)

    st = P.ColumnStats(lower=dt.date(1995, 1, 1), upper=dt.date(1995, 12, 31), contains_null=False)
    assert P.match_bounds(P.parse_where("d >= DATE '1994-01-01'"), lambda c: st)
    assert not P.match_bounds(P.parse_where("d >= DATE '1996-01-01'"), lambda c: st)
    assert not P.match_bounds(P.parse_where("d = DATE '1994-06-01'"), lambda c: st)
    assert P.match_bounds(P.parse_where("d IN (DATE '1995-06-01', DATE '1999-01-01')"), lambda c: st)

    # unparseable → None → match everything (conservative)
    assert P.parse_where("complex_func(x) = 1") is None
    assert P.match_bounds(None, lambda c: st)

    ist = P.ColumnStats(lower=10, upper=20, contains_null=False)
    assert not P.match_bounds(P.parse_where("x < 10"), lambda c: ist)
    assert P.match_bounds(P.parse_where("x <= 10"), lambda c: ist)
    assert not P.match_bounds(P.parse_where("x > 20"), lambda c: ist)
    assert P.match_bounds(P.parse_where("x > 19"), lambda c: ist)
    assert P.match_bounds(P.parse_where("x IS NOT NULL"), lambda c: ist)
    nst = P.ColumnStats(lower=None, upper=None, contains_null=True, all_null=True)
    assert not P.match_bounds(P.parse_where("x = 5"), lambda c: nst)
    assert P.match_bounds(P.parse_where("x IS NULL"), lambda c: nst)


def test_binary_literals_parse_to_bytes():
    assert P.parse_where("k = X'04'") == P.Comparison("k", "=", b"\x04")
    assert P.parse_where("k IN (x'0aFF', X'')") == P.InList(
        "k", [b"\n\xff", b""])
    assert P.parse_where("k = X'0'") is None  # odd digit count
    assert P.coerce_literal(b"\x04", "binary") == b"\x04"
    assert P.coerce_literal(b"\x04", "fixed[1]") == b"\x04"
    st = P.ColumnStats(lower=b"\x02", upper=b"\x05", contains_null=False)
    assert P.match_bounds(P.parse_where("k = X'04'"), lambda c: st)
    assert not P.match_bounds(P.parse_where("k = X'06'"), lambda c: st)


def test_transform_predicate_bucket():
    tp = P.transform_predicate(P.parse_where("v = 34"), "v", "bucket[16]", "int")
    assert isinstance(tp, P.Comparison)
    assert tp.value == tr.bucket_value(34, 16, "int")
    # inequality on bucket → no constraint
    assert P.transform_predicate(P.parse_where("v > 34"), "v", "bucket[16]", "int") is None


def test_refs_and_history_metadata_tables(spark, sf_dir, tmp_path):
    from tests.conftest import load
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.sources.ddl import create_tag
    from duckdb_iceberg_spark.sources.metadata_tables import (
        iceberg_history,
        iceberg_refs,
    )

    src = load(spark, sf_dir, "region")
    loc = str(tmp_path / "t")
    write_iceberg(src.limit(3), loc)
    create_tag(loc, "first")
    write_iceberg(src, loc)

    refs = {r.name: r for r in iceberg_refs(spark, loc).collect()}
    assert set(refs) == {"main", "first"}
    assert refs["first"].type == "tag"
    assert refs["main"].type == "branch"

    hist = iceberg_history(spark, loc).orderBy("made_current_at").collect()
    assert len(hist) == 2
    assert all(h.is_current_ancestor for h in hist)  # linear history
    assert hist[1].parent_id == hist[0].snapshot_id


def test_corrupt_manifest_clean_errors(tmp_path):
    """Corrupt/truncated/foreign metadata Avro must fail with a ValueError
    naming the file, never a raw decoder IndexError/struct.error."""
    from duckdb_iceberg_spark.metadata import manifest as mf

    garbage = tmp_path / "garbage.avro"
    garbage.write_bytes(b"this is not avro at all")
    for reader in (mf.read_manifest, mf.read_manifest_list):
        with pytest.raises(ValueError, match="garbage.avro.*corrupt or not Avro"):
            reader(str(garbage))

    truncated = tmp_path / "truncated.avro"
    truncated.write_bytes(b"Obj\x01\x02")  # valid magic, then cut off
    with pytest.raises(ValueError, match="truncated.avro"):
        mf.read_manifest(str(truncated))

    with pytest.raises(FileNotFoundError):  # missing stays FileNotFoundError
        mf.read_manifest(str(tmp_path / "nope.avro"))

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "n", "type": ["null", "long"]},
        {"name": "u", "type": ["null", "long", "string"]},
        {"name": "s", "type": "string"},
    ]}
    bad_optional = tmp_path / "bad_optional.avro"
    bad_optional.write_bytes(_ocf(schema, _longs(2), 1))  # union index 2
    bad_union = tmp_path / "bad_union.avro"
    bad_union.write_bytes(_ocf(schema, _longs(0, 3), 1))  # union index 3
    for path in (bad_optional, bad_union):
        with pytest.raises(ValueError, match=f"{path.name}.*out of range"):
            mf.read_manifest(str(path))

    # a block whose record count and size promise more than it holds: the
    # second record stops inside its string
    record = _longs(1, 5, 0, 3) + b"abc"
    cut = _ocf(schema, record + record[:-2], 2)
    cut_block = tmp_path / "cut_block.avro"
    cut_block.write_bytes(cut)
    with pytest.raises(ValueError, match="cut_block.avro.*corrupt or not Avro"):
        mf.read_manifest(str(cut_block))
    # a file truncated inside its data block
    full = _ocf(schema, record * 3, 3)
    cut_file = tmp_path / "cut_file.avro"
    cut_file.write_bytes(full[:-20])
    with pytest.raises(ValueError, match="cut_file.avro.*truncated avro block"):
        mf.read_manifest(str(cut_file))


def test_manifest_record_cache(tmp_path, monkeypatch):
    """The immutable-metadata cache (reference parity:
    iceberg_avro_multi_file_reader.cpp:695 disables external-file-cache
    revalidation for manifests): (a) a repeat read serves from cache
    without re-decoding; (b) callers get FRESH dataclasses each call —
    planning mutates entries (first-row-id inheritance), so a cached
    object would poison later scans; (c) rewriting the file in place
    (same path, new bytes) misses the cache via the (size, mtime) key."""
    import time

    from duckdb_iceberg_spark.metadata import manifest as mf

    entry = mf.ManifestEntry(
        status=mf.STATUS_ADDED, snapshot_id=7, sequence_number=1,
        file_sequence_number=1,
        data_file=mf.DataFile(
            content=mf.CONTENT_DATA, file_path="f.parquet",
            file_format="PARQUET", partition={}, record_count=5,
            file_size_in_bytes=10))
    class _TM:  # minimal stand-in: unpartitioned v2 table
        format_version = 2
        current_schema_id = 0
        properties: dict = {}

        @staticmethod
        def schema_json():
            return {"type": "struct", "schema-id": 0, "fields": []}

    spec = mf.PartitionSpec(spec_id=0, fields=[])
    path = str(tmp_path / "m.avro")
    mf.write_manifest(path, [entry], _TM(), spec)

    calls = []
    real = mf._read_avro_clean

    def counting(p, what):
        calls.append(p)
        return real(p, what)

    monkeypatch.setattr(mf, "_read_avro_clean", counting)
    mf.clear_manifest_cache()
    a = mf.read_manifest(path)
    b = mf.read_manifest(path)
    assert len(calls) == 1, "second read must hit the record cache"
    assert a[0] is not b[0], "cache must hand out fresh dataclasses"
    a[0].data_file.first_row_id = 99  # planning-style mutation...
    assert mf.read_manifest(path)[0].data_file.first_row_id is None, \
        "...must never leak into later reads"

    # in-place rewrite at the same path -> stat key changes -> re-read
    # (same byte size, so this exercises the mtime_ns discriminant; the
    # sleep keeps the test off any sub-ms filesystem timestamp rounding)
    entry.data_file.record_count = 6
    time.sleep(0.05)
    mf.write_manifest(path, [entry], _TM(), spec)
    got = mf.read_manifest(path)
    assert len(calls) == 2
    assert got[0].data_file.record_count == 6


def test_avro_cache_thread_safe_under_eviction(tmp_path):
    """ADVICE r9 pin: concurrent planners hammering the LRU while it
    evicts (capacity pinned to 2) must never raise — an unlocked
    OrderedDict raced get/move_to_end against another thread's popitem
    and threw KeyError."""
    import threading

    from duckdb_iceberg_spark.metadata import manifest as mf

    entry = mf.ManifestEntry(
        status=mf.STATUS_ADDED, snapshot_id=7, sequence_number=1,
        file_sequence_number=1,
        data_file=mf.DataFile(
            content=mf.CONTENT_DATA, file_path="f.parquet",
            file_format="PARQUET", partition={}, record_count=5,
            file_size_in_bytes=10))

    class _TM:
        format_version = 2
        current_schema_id = 0
        properties: dict = {}

        @staticmethod
        def schema_json():
            return {"type": "struct", "schema-id": 0, "fields": []}

    spec = mf.PartitionSpec(spec_id=0, fields=[])
    paths = []
    for i in range(6):
        p = str(tmp_path / f"m{i}.avro")
        mf.write_manifest(p, [entry], _TM(), spec)
        paths.append(p)

    old_max = mf._AVRO_CACHE_MAX
    mf._AVRO_CACHE_MAX = 2  # force constant eviction
    errors: list[BaseException] = []

    def hammer():
        try:
            for _ in range(200):
                for p in paths:
                    assert len(mf.read_manifest(p)) == 1
        except BaseException as e:  # noqa: BLE001 - collected for assert
            errors.append(e)

    try:
        threads = [threading.Thread(target=hammer) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        mf._AVRO_CACHE_MAX = old_max
        mf.clear_manifest_cache()
    assert not errors, errors


def test_version_name_format_resolution(tmp_path):
    """Reference parity for the version_name_format option
    (iceberg_options.cpp:22-30, version_name_format_error.test): exactly
    two %s holes required; custom comma-separated formats drive both
    explicit-version resolution and latest-version guessing."""
    import json
    import pytest

    from duckdb_iceberg_spark.metadata.table_metadata import (
        resolve_metadata_location)

    meta = tmp_path / "t" / "metadata"
    meta.mkdir(parents=True)
    for v in (1, 2):
        (meta / f"rev-{v}.meta.json").write_text(json.dumps({"v": v}))
    loc = str(tmp_path / "t")

    # the reference's exact refusal: the count is over the WHOLE option
    # string (iceberg_options.cpp counts occurrences before splitting), so
    # a two-part format with two holes per part is rejected with found=4 —
    # exactly as the reference rejects its own compiled-in default when
    # passed explicitly
    with pytest.raises(ValueError, match="two occurrences of '%s' in it, found 1"):
        resolve_metadata_location(loc, version_name_format="%s")
    with pytest.raises(ValueError, match="found 3"):
        resolve_metadata_location(loc, version_name_format="%s%s%s")
    with pytest.raises(ValueError, match="found 4"):
        resolve_metadata_location(
            loc, version_name_format="v%s%s.metadata.json,%s%s.metadata.json")

    fmt = "rev-%s%s.meta.json"
    # explicit version
    got = resolve_metadata_location(loc, "1", version_name_format=fmt)
    assert got.endswith("rev-1.meta.json")
    # guessing picks the latest version matching the custom format
    got = resolve_metadata_location(loc, version_name_format=fmt)
    assert got.endswith("rev-2.meta.json")
    # comma-separated candidate list (one hole per part, two total — the
    # only comma form the reference's validation admits): a non-matching
    # first format falls through to the second
    got = resolve_metadata_location(
        loc, "2", version_name_format="nope-%s.json,rev-%s.meta.json")
    assert got.endswith("rev-2.meta.json")
    # PickTableVersion parity: guessing takes the lexicographically
    # greatest path, so rev-9 beats rev-10 (reference
    # iceberg_table_metadata.cpp PickTableVersion sorts paths)
    for v in (9, 10):
        (meta / f"rev-{v}.meta.json").write_text(json.dumps({"v": v}))
    got = resolve_metadata_location(loc, version_name_format=fmt)
    assert got.endswith("rev-9.meta.json")
    for v in (9, 10):
        (meta / f"rev-{v}.meta.json").unlink()
    # gzip codec substitutes the suffix hole
    (meta / "rev-3.gz.meta.json").write_text(json.dumps({"v": 3}))
    got = resolve_metadata_location(
        loc, "3", version_name_format=fmt, metadata_compression_codec="gzip")
    assert got.endswith("rev-3.gz.meta.json")
    # missing version: error names the format and tried paths
    with pytest.raises(FileNotFoundError, match="rev-%s%s.meta.json"):
        resolve_metadata_location(loc, "9", version_name_format=fmt)


def test_parse_where_folds_constant_arithmetic():
    """Foldable literal arithmetic must still prune (reference:
    partitioning/foldable_expression_filter.test — DuckDB folds constants
    before its pruner runs): the parser folds +, *, /, % and parenthesized
    chains over numeric literals; anything it can't fold degrades to
    None = no pruning, never a wrong predicate."""
    from duckdb_iceberg_spark.plans import predicates as P

    assert P.parse_where("k = 1 + 1") == P.Comparison("k", "=", 2)
    assert P.parse_where("k = 2 * (3 + 4)") == P.Comparison("k", "=", 14)
    assert P.parse_where("k = 4 / 2") == P.Comparison("k", "=", 2.0)
    assert P.parse_where("k = 7 % 3") == P.Comparison("k", "=", 1)
    assert P.parse_where("k IN (1 + 1, 4)") == P.InList("k", [2, 4])
    b = P.parse_where("k BETWEEN 1 + 1 AND 2 * 3")
    assert b == P.And([P.Comparison("k", ">=", 2), P.Comparison("k", "<=", 6)])
    # non-foldable shapes degrade conservatively (no pruning), never throw
    assert P.parse_where("k = 1 - 2") is None      # '1 -2' lexes as two nums
    assert P.parse_where("k = 'a' + 1") is None    # non-numeric operand
    assert P.parse_where("k = -5") == P.Comparison("k", "=", -5)
    # SQL modulo is TRUNCATED (sign of the dividend: Spark and DuckDB give
    # -7 % 3 = -1), not Python's floored -7 % 3 = 2 — a floored fold here
    # would prune the WRONG files for negative partition keys
    assert P.parse_where("k = -7 % 3") == P.Comparison("k", "=", -1)
    assert P.parse_where("k = 7 % -3") == P.Comparison("k", "=", 1)
    # zero divisors degrade to no-pruning instead of raising out of the
    # parser (Spark evaluates 1/0 to NULL at runtime; never fold it)
    assert P.parse_where("k = 1 / 0") is None
    assert P.parse_where("k = 7 % 0") is None


def test_foldable_filter_prunes_files(spark, tmp_path):
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan

    loc = str(tmp_path / "t_fold")
    write_iceberg(spark.sql("SELECT id AS k, id*10 AS v FROM range(6)"),
                  loc, partition_by=["k"])
    tm = load_table_metadata(loc)
    assert len(plan_scan(tm, tm.select_snapshot(), "k = 1 + 1").tasks) == 1
    assert len(plan_scan(tm, tm.select_snapshot(), "k = 2").tasks) == 1


def test_localize_never_rewrites_custom_write_paths():
    """Files under write.data.path / write.metadata.path overrides live
    legitimately OUTSIDE the table location; the moved-table marker
    rewrite ('/data/' → <location>/data/) must not fire on them even when
    the override's own path contains a marker — remote tables skip
    existence probes, so a rewrite there would be silent corruption."""
    from duckdb_iceberg_spark.metadata.table_metadata import TableMetadata
    from duckdb_iceberg_spark.plans.scan_plan import _localize

    tm = TableMetadata({
        "format-version": 2, "location": "s3://bkt/t1",
        "properties": {
            "write.data.path": "s3://bkt2/shared/data/t1",
            "write.metadata.path": "s3://bkt2/meta/metadata/t1",
        }})
    for p in ("s3://bkt2/shared/data/t1/u/x.parquet",
              "s3://bkt2/meta/metadata/t1/snap-1.avro"):
        assert _localize(tm, p) == p
    # a genuinely moved table (no override match) still localizes
    assert _localize(tm, "s3://old/t1/data/u/x.parquet") == \
        "s3://bkt/t1/data/u/x.parquet"


def test_localize_custom_roots_match_across_uri_forms():
    """The custom-root guard normalizes URI form on both sides (ADVICE
    r9): a recorded 'file:///x/...' must match a bare-path override and
    a bare recorded path must match a 'file://' override — otherwise a
    marker-containing override path gets rewritten under <location>."""
    from duckdb_iceberg_spark.metadata.table_metadata import TableMetadata
    from duckdb_iceberg_spark.plans.scan_plan import _localize

    # bare-path override, file://-scheme recorded path
    tm = TableMetadata({
        "format-version": 2, "location": "s3://bkt/t1",
        "properties": {"write.data.path": "/ext/shared/data/t1"}})
    assert _localize(tm, "file:///ext/shared/data/t1/u/x.parquet") == \
        "file:///ext/shared/data/t1/u/x.parquet"
    # file://-scheme override, bare recorded path
    tm2 = TableMetadata({
        "format-version": 2, "location": "s3://bkt/t1",
        "properties": {"write.data.path": "file:///ext/shared/data/t1"}})
    assert _localize(tm2, "/ext/shared/data/t1/u/x.parquet") == \
        "/ext/shared/data/t1/u/x.parquet"


def test_localize_keeps_canonical_paths_under_a_marker_location():
    """A path already under <location>/data/ or <location>/metadata/ is
    returned as is, even when the location itself contains '/data/' —
    the marker rewrite used to cut at the location's own '/data/' and
    return file:///data/t/data/t/data/x.parquet."""
    from duckdb_iceberg_spark.metadata.table_metadata import TableMetadata
    from duckdb_iceberg_spark.plans.scan_plan import _localize

    for loc in ("file:///data/t", "s3://bkt/data/t", "/data/t"):
        tm = TableMetadata({"format-version": 2, "location": loc + "/"})
        for path in (f"{loc}/data/x.parquet", f"{loc}/metadata/m.avro"):
            assert _localize(tm, path) == path


def test_snapshot_lookups_mutually_exclusive():
    """snapshot_id / as_of / ref are mutually exclusive lookups
    (reference: iceberg_multi_file_reader.cpp ParseOption — "Can't use
    'snapshot_from_id' in combination with 'snapshot_from_timestamp'");
    silently preferring one would scan a snapshot the caller did not
    name."""
    from duckdb_iceberg_spark.metadata.table_metadata import TableMetadata

    tm = TableMetadata({"format-version": 2, "location": "/tmp/x"})
    with pytest.raises(ValueError, match="mutually exclusive"):
        tm.select_snapshot(snapshot_id=1, as_of="2020-01-01")
    with pytest.raises(ValueError, match="mutually exclusive"):
        tm.select_snapshot(snapshot_id=1, ref="main")


def test_scan_option_combinations_never_silently_ignored(spark, tmp_path):
    """r10 sweep of iceberg_scan/execute_sql option combinations: every
    conflicting pair fails LOUDLY (the reference's posture for
    snapshot_from_id+snapshot_from_timestamp); none is silently dropped.
    - plan= + any snapshot/version lookup: the plan already pins both,
      so accepting the lookup would scan something the caller did not
      name (the one combination that WAS silently accepted before r10)
    - version=N + a snapshot id that only exists in a later metadata
      version: loud KeyError from snapshot resolution
    - DML + FOR VERSION AS OF through the SQL route: loud parse error
      (a snapshot is immutable; the reference has no snapshot-pinned
      DML either)."""
    import pytest as _pytest

    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import (
        load_table_metadata,
    )
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from duckdb_iceberg_spark.sources.sql import execute_sql, register_table

    loc = str(tmp_path / "t_opts")
    write_iceberg(spark.createDataFrame([(1,), (2,)], "id int"), loc)
    write_iceberg(spark.createDataFrame([(3,)], "id int"), loc)
    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot())
    for kw in ({"snapshot_id": 1}, {"as_of": "2020-01-01"},
               {"ref": "main"}, {"version": "1"}):
        with _pytest.raises(ValueError, match="precomputed plan"):
            iceberg_scan(spark, loc, plan=plan, **kw)
    # plan alone still scans
    assert iceberg_scan(spark, loc, plan=plan).count() == 3
    # a snapshot id resolved under an EARLIER metadata version fails loud
    last_snap = tm.current_snapshot().snapshot_id
    with _pytest.raises(KeyError, match="no snapshot"):
        iceberg_scan(spark, loc, version="1", snapshot_id=last_snap)
    # DML refuses time-travel targets
    register_table(spark, "t_opts_sql", loc)
    for stmt in ("DELETE FROM t_opts_sql FOR VERSION AS OF 1 WHERE id=1",
                 "UPDATE t_opts_sql FOR VERSION AS OF 1 SET id = 9"):
        with _pytest.raises(ValueError):
            execute_sql(spark, stmt)
    # and the data is untouched
    assert iceberg_scan(spark, loc).count() == 3


def test_avro_cache_record_weight_budget(tmp_path, monkeypatch):
    """r15: the manifest LRU is ALSO bounded by total decoded records —
    256 large manifests would otherwise pin ~700 MB of raw record dicts
    on the driver. Over-budget inserts evict oldest-first (but always
    keep the newest), and clear_manifest_cache resets the counter so
    the budget can't drift into permanent eviction."""
    from duckdb_iceberg_spark.metadata import manifest as mf

    class _TM:  # minimal stand-in: unpartitioned v2 table
        format_version = 2
        current_schema_id = 0
        properties: dict = {}

        @staticmethod
        def schema_json():
            return {"type": "struct", "schema-id": 0, "fields": []}

    def mk(path, n):
        entries = [mf.ManifestEntry(
            status=mf.STATUS_ADDED, snapshot_id=1, sequence_number=1,
            file_sequence_number=1,
            data_file=mf.DataFile(
                content=mf.CONTENT_DATA, file_path=f"{path}-f{i}",
                file_format="PARQUET", partition={}, record_count=1,
                file_size_in_bytes=1)) for i in range(n)]
        mf.write_manifest(path, entries, _TM(),
                          mf.PartitionSpec(spec_id=0, fields=[]))

    monkeypatch.setattr(mf, "_AVRO_CACHE_MAX_RECORDS", 25)
    mf.clear_manifest_cache()
    paths = []
    for i in range(4):
        p = str(tmp_path / f"m{i}.avro")
        mk(p, 10)
        paths.append(p)
        mf.read_manifest(p)
    assert mf._AVRO_CACHE_RECORDS[0] <= 25, \
        "record budget must bound the cache"
    assert len(mf._AVRO_CACHE) >= 1, "the newest manifest always stays"

    mf.clear_manifest_cache()
    assert mf._AVRO_CACHE_RECORDS[0] == 0 and not mf._AVRO_CACHE
    # counter stays consistent through reuse
    mf.read_manifest(paths[0])
    mf.read_manifest(paths[0])
    assert mf._AVRO_CACHE_RECORDS[0] == 10
