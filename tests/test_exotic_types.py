"""End-to-end coverage for the documented lossy/tagged type mappings
(SURVEY.md §1.2; reference type parsing:
src/core/metadata/schema/iceberg_column_definition.cpp:82-241):

- time      → Spark TimeType (4.1+, r10 — spark.sql.timeType.enabled set
  by get_spark); legacy tagged-Long µs input still writes (make_time)
- uuid      → StringType canonical form
- fixed[16] → BinaryType
- geometry  → BinaryType (WKB)
- variant   → Spark VariantType (4.x) when available
"""

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_iceberg_spark.metadata.types import FIELD_ID_KEY, ICEBERG_TYPE_KEY


def _tagged_schema():
    def fld(name, dtype, fid, ice=None):
        md = {FIELD_ID_KEY: fid}
        if ice:
            md[ICEBERG_TYPE_KEY] = ice
        return T.StructField(name, dtype, True, metadata=md)

    return T.StructType([
        fld("id", T.LongType(), 1),
        fld("t_time", T.LongType(), 2, "time"),
        fld("t_uuid", T.StringType(), 3, "uuid"),
        fld("t_fixed", T.BinaryType(), 4, "fixed[16]"),
        fld("t_geom", T.BinaryType(), 5, "geometry"),
    ])


def test_spark_time_type_parquet_roundtrip(spark, tmp_path):
    """The r8 pin FLIPPED in r10: Spark 4.1's TIME type works end-to-end
    once ``spark.sql.timeType.enabled`` is set (get_spark sets it), so
    the tagged-Long mapping upgraded to a real TimeType (SURVEY §1.2
    gap #1 lifted — re-probed 2026-08-15, r10)."""
    vt = getattr(T, "TimeType", None)
    if vt is None:
        pytest.skip("no TimeType in this Spark")
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.time(12, 34, 56, 789001))],
        T.StructType([T.StructField("id", T.LongType()),
                      T.StructField("t", vt())]))
    loc = str(tmp_path / "t")
    df.write.parquet(loc)
    back = spark.read.parquet(loc).collect()
    assert back[0].t == dt.time(12, 34, 56, 789001)


def test_tagged_types_round_trip(spark, tmp_path):
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata

    u = str(uuid.uuid4())
    wkb_point = bytes.fromhex(
        "0101000000000000000000f03f0000000000000040")  # POINT(1 2)
    rows = [
        (1, 12 * 3600 * 1_000_000, u, b"0123456789abcdef", wkb_point),
        (2, None, None, None, None),
    ]
    df = spark.createDataFrame(rows, _tagged_schema())
    loc = str(tmp_path / "t")
    write_iceberg(df, loc)

    # metadata must declare the Iceberg types, not the Spark carrier types
    tm = load_table_metadata(loc)
    declared = {f["name"]: f["type"] for f in tm.schema_json()["fields"]}
    assert declared["t_time"] == "time"
    assert declared["t_uuid"] == "uuid"
    assert declared["t_fixed"] == "fixed[16]"
    assert declared["t_geom"] == "geometry"

    import datetime as dt

    got = {r.id: r for r in iceberg_scan(spark, loc).collect()}
    # legacy µs-long input surfaces as a real time-of-day on read (r10)
    assert got[1].t_time == dt.time(12, 0, 0)
    assert got[1].t_uuid == u
    assert got[1].t_fixed == b"0123456789abcdef"
    assert got[1].t_geom == wkb_point
    assert got[2].t_time is None and got[2].t_uuid is None


def test_tagged_types_survive_filter_pushdown(spark, tmp_path):
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg

    df = spark.createDataFrame(
        [(i, i * 1000, str(uuid.UUID(int=i)), None, None) for i in range(100)],
        _tagged_schema())
    loc = str(tmp_path / "t")
    write_iceberg(df, loc)
    out = iceberg_scan(spark, loc, where="id >= 90").collect()
    assert len(out) == 10
    assert all(r.t_uuid == str(uuid.UUID(int=r.id)) for r in out)


def test_variant_type_mapping():
    """variant maps to Spark VariantType when the runtime has it
    (Spark 4.x), else a documented JSON-string fallback."""
    from duckdb_iceberg_spark.metadata.types import iceberg_to_spark

    t = iceberg_to_spark("variant")
    vt = getattr(T, "VariantType", None)
    if vt is not None:
        assert isinstance(t, vt)
    else:
        assert isinstance(t, T.StringType)


def test_variant_column_round_trip(spark, tmp_path):
    """Write a VariantType column through the full write/scan path.

    Container retest log (auto-unskips the moment support lands):
    2026-08-14 (r7): pyarrow 16.1.0 — no variant storage type; Spark
    parquet variant write still rejected; PIL/ffmpeg/google.protobuf all
    absent, so the JPEG/MP4 real decoders and transformWithStateInPandas
    stay gated too (see operators/multimodal.py, streaming/stateful.py).
    2026-08-15 (r8): Spark's parquet variant write SUCCEEDS — this test
    runs the real roundtrip now (write_iceberg -> iceberg_scan preserves
    VariantType and values). pyarrow still has no variant storage type,
    and PIL/ffmpeg/google.protobuf remain absent, so the multimodal
    decoders and transformWithStateInPandas stay gated.
    2026-08-15 (r9): re-probed — unchanged (pyarrow 16.1.0 no variant
    storage type; google.protobuf/PIL absent, no ffmpeg binary; the TIME
    pin below still raises on both parquet paths)."""
    vt = getattr(T, "VariantType", None)
    if vt is None:
        pytest.skip("Spark VariantType not available")
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg

    df = spark.range(3).select(
        F.col("id"),
        F.parse_json(
            F.concat(F.lit('{"k": '), F.col("id").cast("string"), F.lit("}"))
        ).alias("v"))
    loc = str(tmp_path / "t")
    try:
        write_iceberg(df, loc)
    except Exception as e:  # pragma: no cover - depends on Spark parquet support
        pytest.skip(f"variant parquet write unsupported here: {e}")
    got = iceberg_scan(spark, loc)
    assert got.schema["v"].dataType.typeName() == "variant"
    vals = sorted(
        json.loads(r.v)["k"]
        for r in got.select(F.to_json("v").alias("v"), "id").collect())
    assert vals == [0, 1, 2]
    # extraction over the written file — the reference's end-to-end
    # variant usage (variant_get path + filter)
    hit = (got.select(F.variant_get("v", "$.k", "int").alias("k"))
           .filter("k = 2").collect())
    assert [r.k for r in hit] == [2]


def test_geometry_bbox_stats_render_and_never_prune(spark, tmp_path):
    """Geometry bounds are bounding-box corners (Iceberg v3 Appendix D:
    packed little-endian doubles), not scalar min/max:

    - iceberg_column_stats renders them as the reference's JSON object
      (GeometryBoundJson: bbox_x/bbox_y/bbox_z/bbox_m, absent axes null —
      iceberg_column_stats.cpp:40-56, test_read_geometry_read_with_stats);
    - the planner must NEVER prune on geometry bounds (byte-comparing
      corner doubles against WKB literals would drop live files);
    - our own writer emits NO geometry bounds (it has no bbox source —
      raw WKB footer min/max would poison corner-decoding readers).
    """
    import struct as _struct

    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.metadata import manifest as mf
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from duckdb_iceberg_spark.sources.metadata_tables import iceberg_column_stats
    from duckdb_iceberg_spark.sources.writer import commit_snapshot

    wkb_point = bytes.fromhex("0101000000000000000000f03f0000000000000040")
    df = spark.createDataFrame(
        [(1, None, None, None, wkb_point)], _tagged_schema())
    loc = str(tmp_path / "t")
    write_iceberg(df, loc)

    # our writer: no bounds for the geometry field
    stats0 = iceberg_column_stats(spark, loc).filter("column_name = 't_geom'")
    own = stats0.collect()
    assert all(r.lower_bound is None and r.upper_bound is None for r in own)

    # append a foreign-style entry carrying an XY bbox (2 doubles/corner)
    tm = load_table_metadata(loc)
    data_path = own[0].file_path
    entry = mf.DataFile(
        content=mf.CONTENT_DATA, file_path=data_path, file_format="PARQUET",
        partition={}, record_count=1, file_size_in_bytes=100,
        lower_bounds={5: _struct.pack("<2d", -10.5, -20.25)},
        upper_bounds={5: _struct.pack("<2d", 30.75, 41.5)},
    )
    commit_snapshot(tm, operation="append", new_data_files=[entry])

    rows = (iceberg_column_stats(spark, loc)
            .filter("column_name = 't_geom' AND lower_bound IS NOT NULL")
            .collect())
    assert len(rows) == 1
    lo, hi = json.loads(rows[0].lower_bound), json.loads(rows[0].upper_bound)
    assert lo == {"bbox_x": -10.5, "bbox_y": -20.25, "bbox_z": None, "bbox_m": None}
    assert hi == {"bbox_x": 30.75, "bbox_y": 41.5, "bbox_z": None, "bbox_m": None}

    # a predicate over the geometry column must not prune either file
    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot(), "t_geom = X'01'")
    assert len(plan.tasks) == 2  # both entries survive (conservative)


def test_decode_geometry_bound_axes():
    import math
    import struct as _struct

    from duckdb_iceberg_spark.metadata.types import decode_geometry_bound

    assert decode_geometry_bound(_struct.pack("<2d", 1.0, 2.0)) == {
        "x": 1.0, "y": 2.0, "z": None, "m": None}
    assert decode_geometry_bound(_struct.pack("<3d", 1.0, 2.0, 3.0)) == {
        "x": 1.0, "y": 2.0, "z": 3.0, "m": None}
    # XYM writers pad Z with +/-inf -> decodes back to absent
    got = decode_geometry_bound(_struct.pack("<4d", 1.0, 2.0, -math.inf, 7.0))
    assert got == {"x": 1.0, "y": 2.0, "z": None, "m": 7.0}
    assert decode_geometry_bound(b"\x00" * 7) is None


def test_time_mapping_degrades_when_session_flag_off(spark):
    """ADVICE r10: time_type_available() consults the ACTIVE session's
    spark.sql.timeType.enabled, not just the pyspark version — a
    user-supplied 4.1 session without the flag must get the tagged-Long
    µs mapping (which analyzes fine) instead of TimeType schemas that
    fail at analysis."""
    from pyspark.sql import types as T

    from duckdb_iceberg_spark.metadata import types as ice_types

    assert ice_types.time_type_available() is True  # get_spark set the flag
    assert isinstance(ice_types.iceberg_to_spark("time"), T.TimeType)
    old = spark.conf.get("spark.sql.timeType.enabled")
    spark.conf.set("spark.sql.timeType.enabled", "false")
    try:
        assert ice_types.time_type_available() is False
        assert isinstance(ice_types.iceberg_to_spark("time"), T.LongType)
        assert ice_types.micros_to_time is not None  # helpers stay importable
    finally:
        spark.conf.set("spark.sql.timeType.enabled", old)
    assert ice_types.time_type_available() is True


def test_time_probe_raises_when_the_session_conf_fails(monkeypatch):
    """A failing session is not read as "TimeType available": the probe
    raises instead of guessing."""
    from pyspark.sql import SparkSession

    from duckdb_iceberg_spark.metadata import types as ice_types

    class _Conf:
        def get(self, *a):
            raise RuntimeError("conf unavailable")

    class _Session:
        conf = _Conf()

    monkeypatch.setattr(SparkSession, "getActiveSession",
                        staticmethod(lambda: _Session()))
    with pytest.raises(RuntimeError, match="conf unavailable"):
        ice_types._probe_time_type()
