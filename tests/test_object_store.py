"""End-to-end Iceberg tables homed on an object store (pyarrow's in-memory
mock filesystem, which exposes the same FileSystem API as S3/GCS/Azure).

Everything — metadata JSON, Avro manifests, Puffin DVs, parquet data files —
lives behind ``mock://`` and flows through the pluggable FileIO; nothing
touches the local filesystem. The reference's equivalent surface is REST
catalog + MinIO (benchmark/tpch/sf=1/*.benchmark against 127.0.0.1:9000,
credential plumbing in iceberg_table_secret_provider.cpp)."""

import pytest

from duckdb_iceberg_spark import io as fio
from duckdb_iceberg_spark import iceberg_scan, write_iceberg


@pytest.fixture()
def mock_fs():
    from pyarrow import fs as pafs

    mock = pafs._MockFileSystem()
    fio.register_io("mock", fio.ArrowFileIO("mock", mock, shippable=False))
    return mock


def test_write_scan_roundtrip(spark, mock_fs):
    loc = "mock://bucket/t1"
    write_iceberg(spark.range(100).selectExpr("id", "id % 3 AS k"), loc)
    df = iceberg_scan(spark, loc)
    assert df.count() == 100
    assert sorted(r.id for r in df.filter("k = 1").collect()) == [
        i for i in range(100) if i % 3 == 1]


def test_appends_and_time_travel(spark, mock_fs):
    loc = "mock://bucket/t2"
    write_iceberg(spark.range(0, 10).selectExpr("id"), loc)
    write_iceberg(spark.range(10, 30).selectExpr("id"), loc)
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata

    tm = load_table_metadata(loc)
    assert len(tm.snapshots) == 2
    first = min(tm.snapshots, key=lambda s: s.timestamp_ms)
    assert iceberg_scan(spark, loc).count() == 30
    assert iceberg_scan(spark, loc, snapshot_id=first.snapshot_id).count() == 10


def test_partitioned_table(spark, mock_fs):
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan

    loc = "mock://bucket/t3"
    write_iceberg(spark.range(100).selectExpr("id", "id % 4 AS part"), loc,
                  partition_by=["part"])
    got = iceberg_scan(spark, loc, where="part = 2")
    assert sorted(r.id for r in got.collect()) == [i for i in range(100) if i % 4 == 2]
    # partition pruning happens at the planner (no data read for 3/4 of files)
    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot(), where="part = 2")
    assert plan.stats["files_pruned"] > 0


def test_mor_delete_and_dv(spark, mock_fs):
    from duckdb_iceberg_spark.sources.dml import delete_from

    loc = "mock://bucket/t4"
    write_iceberg(spark.range(50).selectExpr("id", "id AS v"), loc)
    delete_from(spark, loc, "id >= 40", mode="merge-on-read")
    assert sorted(r.id for r in iceberg_scan(spark, loc).collect()) == list(range(40))


def test_equality_delete_on_object_store(spark, mock_fs):
    from duckdb_iceberg_spark.sources.dml import equality_delete

    loc = "mock://bucket/t5"
    write_iceberg(spark.range(60).selectExpr("id", "id % 6 AS k"), loc)
    equality_delete(spark, loc, spark.createDataFrame([(2,), (4,)], "k: long"))
    got = sorted(r.id for r in iceberg_scan(spark, loc).collect())
    assert got == [i for i in range(60) if i % 6 not in (2, 4)]


def test_merge_into_on_object_store(spark, mock_fs):
    from duckdb_iceberg_spark.sources.dml import merge_into

    loc = "mock://bucket/t6"
    write_iceberg(spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id: long, v: double"), loc)
    merge_into(spark, loc,
               spark.createDataFrame([(2, 200.0), (3, 30.0)], "id: long, v: double"),
               "tgt.id = src.id",
               when_matched_update={"v": "src.v"}, when_not_matched_insert=True)
    got = {r.id: r.v for r in iceberg_scan(spark, loc).collect()}
    assert got == {1: 10.0, 2: 200.0, 3: 30.0}


def test_maintenance_on_object_store(spark, mock_fs):
    from duckdb_iceberg_spark.sources.maintenance import (
        expire_snapshots,
        remove_orphan_files,
        rewrite_manifests,
    )

    loc = "mock://bucket/t7"
    for lo in (0, 10, 20):
        write_iceberg(spark.range(lo, lo + 10).selectExpr("id"), loc)
    assert rewrite_manifests(loc)["rewritten_manifests"] == 3
    assert iceberg_scan(spark, loc).count() == 30
    got = expire_snapshots(loc, retain_last=1)
    assert got["expired"] >= 2
    assert iceberg_scan(spark, loc).count() == 30
    # a stray uncommitted object is an orphan once past the age cutoff
    io = fio.get_io(loc)
    io.write_bytes(f"{loc}/data/stray.parquet", b"junk")
    assert remove_orphan_files(loc, dry_run=True, older_than_ms=0) == [
        f"{loc}/data/stray.parquet"]


def test_vended_credential_registry():
    """REST LoadTableResult config → a location-scoped FileIO + per-bucket
    Hadoop conf for native-scheme clusters."""
    cfg = {
        "s3.access-key-id": "AK", "s3.secret-access-key": "SK",
        "s3.session-token": "TOK", "s3.endpoint": "http://127.0.0.1:9000",
        "s3.region": "us-east-1", "s3.path-style-access": "true",
    }
    try:
        io = fio.io_for_storage_config("s3://bkt/warehouse/tbl", cfg)
        assert io is not None
        # the vended IO wins for paths under the table location
        assert fio.get_io("s3://bkt/warehouse/tbl/metadata/v1.metadata.json") is io
        opts = io.storage_options()
        assert opts["access_key"] == "AK" and opts["endpoint_override"].endswith(":9000")
        # and serializes/deserializes for executors
        io2 = fio.io_from_storage_options(opts)
        assert io2.storage_options()["secret_key"] == "SK"
        hadoop = fio.spark_hadoop_options("s3://bkt/warehouse/tbl", cfg)
        assert hadoop["fs.s3a.bucket.bkt.access.key"] == "AK"
        assert hadoop["fs.s3a.bucket.bkt.endpoint"] == "http://127.0.0.1:9000"
        assert hadoop["fs.s3a.bucket.bkt.path.style.access"] == "true"
    finally:
        fio.clear_location_ios()


def test_local_tables_unaffected(spark, tmp_path):
    """The default path (no scheme) still uses plain local IO + native Spark."""
    loc = str(tmp_path / "t")
    write_iceberg(spark.range(10).selectExpr("id"), loc)
    assert iceberg_scan(spark, loc).count() == 10
    import os

    assert os.path.exists(os.path.join(loc, "metadata", "version-hint.text"))


def test_native_schemes_read_session_conf(spark, monkeypatch):
    """The session conf adds Spark-native schemes; an unset conf keeps the
    default set, and a conf read that fails raises instead of quietly
    routing every read to the Arrow plane."""
    from duckdb_iceberg_spark.io import arrow_data

    monkeypatch.delenv("DUCKDB_ICEBERG_NATIVE_SCHEMES", raising=False)
    conf = arrow_data._NATIVE_CONF
    prior = spark.conf.get(conf, None)
    try:
        spark.conf.unset(conf)
        assert arrow_data.native_schemes(spark) == {"", "file", "hdfs"}
        spark.conf.set(conf, "s3a,gs")
        assert arrow_data.native_schemes(spark) == {
            "", "file", "hdfs", "s3a", "gs"}
    finally:
        if prior is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prior)

    class _DeadConf:
        def get(self, key, default=None):
            raise ConnectionError("gateway is gone")

    class _DeadSession:
        conf = _DeadConf()

    with pytest.raises(ConnectionError):
        arrow_data.native_schemes(_DeadSession())


def test_distributed_arrow_write_and_read(spark, lfs, monkeypatch):
    from duckdb_iceberg_spark.io import arrow_data

    # force the distributed read branch even for few files
    monkeypatch.setattr(arrow_data, "_DRIVER_READ_MAX_FILES", 0)
    loc = f"{lfs}/t_dist"
    write_iceberg(spark.range(1000).repartition(6).selectExpr("id", "id % 7 AS k"), loc)
    df = iceberg_scan(spark, loc)
    assert df.count() == 1000
    assert df.filter("k = 3").count() == sum(1 for i in range(1000) if i % 7 == 3)


def test_distributed_arrow_mor_delete(spark, lfs, monkeypatch):
    from duckdb_iceberg_spark.io import arrow_data
    from duckdb_iceberg_spark.sources.dml import delete_from

    monkeypatch.setattr(arrow_data, "_DRIVER_READ_MAX_FILES", 0)
    loc = f"{lfs}/t_dist_mor"
    write_iceberg(spark.range(200).repartition(4).selectExpr("id", "id AS v"), loc)
    delete_from(spark, loc, "id % 10 = 0", mode="merge-on-read")
    got = sorted(r.id for r in iceberg_scan(spark, loc).collect())
    assert got == [i for i in range(200) if i % 10 != 0]


@pytest.fixture()
def s3a_fs():
    """Same in-memory filesystem reachable as both s3a:// and s3:// —
    models Hadoop's native scheme aliasing."""
    from pyarrow import fs as pafs

    mock = pafs._MockFileSystem()
    fio.register_io("s3a", fio.ArrowFileIO("s3a", mock, shippable=False))
    fio.register_io("s3", fio.ArrowFileIO("s3", mock, shippable=False))
    return mock


def test_s3a_scheme_deletes_and_lineage_still_apply(spark, s3a_fs):
    """Manifests written through s3a:// record s3a:// paths; every
    path-equality join (delete application, row lineage, sequence-number
    attach) must canonicalize BOTH sides or deletes silently resurrect."""
    from duckdb_iceberg_spark.sources.dml import delete_from

    loc = "s3a://bucket/tdv"
    write_iceberg(spark.range(100).selectExpr("id", "id % 3 AS k"), loc,
                  format_version=3)
    delete_from(spark, loc, "id % 10 = 0", mode="merge-on-read")
    got = sorted(r.id for r in iceberg_scan(spark, loc).collect())
    assert got == [i for i in range(100) if i % 10 != 0]
    # row lineage joins on the same normalized key
    lin = iceberg_scan(spark, loc, with_row_lineage=True)
    rows = lin.select("_row_id").collect()
    assert all(r._row_id is not None for r in rows)
    assert len({r._row_id for r in rows}) == len(rows)


def test_s3a_scheme_equality_deletes_apply(spark, s3a_fs):
    from duckdb_iceberg_spark.sources.dml import equality_delete

    loc = "s3a://bucket/teq"
    write_iceberg(spark.range(50).selectExpr("id", "id % 5 AS k"), loc)
    equality_delete(spark, loc, spark.createDataFrame([(1,), (3,)], "k long"),
                    ["k"])
    got = sorted(r.id for r in iceberg_scan(spark, loc).collect())
    assert got == [i for i in range(50) if i % 5 not in (1, 3)]


def test_uuid_fixed16_reads_on_object_store(spark, mock_fs):
    """A foreign-written parquet file storing uuid as FIXED_LEN_BYTE_ARRAY(16)
    must read as the canonical string through the ARROW data plane too (the
    JVM path already converts; arrow cannot cast fixed16->string natively)."""
    import uuid as _u

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from duckdb_iceberg_spark.io import arrow_data as ad
    from duckdb_iceberg_spark.metadata.types import FIELD_ID_KEY, ICEBERG_TYPE_KEY

    u1, u2 = _u.uuid4(), _u.uuid4()
    tbl = pa.table({
        "id": pa.array([1, 2], pa.int64()),
        "u": pa.array([u1.bytes, u2.bytes], pa.binary(16)),
    })
    sink = pa.BufferOutputStream()
    pq.write_table(tbl, sink)
    path = "mock://bucket/uuid/f.parquet"
    from duckdb_iceberg_spark import io as fio
    fio.get_io(path).write_bytes(path, sink.getvalue().to_pybytes())

    schema = T.StructType([
        T.StructField("id", T.LongType(), True, {FIELD_ID_KEY: 1}),
        T.StructField("u", T.StringType(), True,
                      {FIELD_ID_KEY: 2, ICEBERG_TYPE_KEY: "uuid"}),
    ])
    got = {r.id: r.u for r in ad.read_parquet(spark, [path], schema).collect()}
    assert got == {1: str(u1), 2: str(u2)}


def test_minimal_metadata_requests_per_scan(spark, mock_fs):
    """Request-count profile of one steady-state scan (the reference's
    test_minimal_head_requests / test_requests_to_partitioned_table
    analogue — its timed runs simulate 3 ms per object-store request, so
    request COUNT is the scale variable): planning one snapshot reads the
    metadata JSON, the manifest list, and each live manifest exactly
    once, with at most a handful of existence probes for version
    resolution — never per data file."""
    loc = "mock://bucket/minreq"
    df = spark.range(200).selectExpr("CAST(id AS INT) AS id",
                                     "id % 4 AS grp")
    write_iceberg(df, loc)
    write_iceberg(df, loc)  # second snapshot/manifest

    io = fio.get_io(loc)
    calls = {"read": [], "exists": [], "size": []}
    orig_read, orig_exists, orig_size = io.read_bytes, io.exists, io.size

    def read_bytes(path, *a, **kw):
        calls["read"].append(path)
        return orig_read(path, *a, **kw)

    def exists(path):
        calls["exists"].append(path)
        return orig_exists(path)

    def size(path):
        calls["size"].append(path)
        return orig_size(path)

    io.read_bytes, io.exists, io.size = read_bytes, exists, size
    try:
        from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
        from duckdb_iceberg_spark.plans.scan_plan import plan_scan

        tm = load_table_metadata(loc)
        plan = plan_scan(tm, tm.select_snapshot(), None)
    finally:
        io.read_bytes, io.exists, io.size = orig_read, orig_exists, orig_size

    n_files = len(plan.tasks)
    assert n_files >= 2
    meta_reads = [p for p in calls["read"] if ".parquet" not in p]
    # metadata json + manifest list + per-snapshot manifests — strictly
    # O(#manifests), never O(#data files)
    assert len(meta_reads) <= 2 + 8, meta_reads
    assert not any(".parquet" in p for p in calls["read"]), (
        "planning opened a data file")
    assert len(calls["exists"]) <= 4, calls["exists"]


def test_rename_then_scan_resolves_by_field_id(spark, mock_fs):
    """Column rename + widen over an object store: old data files carry the
    OLD name, so the arrow read path must resolve them BY FIELD ID (the
    same contract as the JVM parquet reader) — name-only matching would
    silently return NULL for every pre-rename file."""
    from duckdb_iceberg_spark.sources import ddl

    loc = "mock://bucket/t_rename"
    write_iceberg(spark.range(5).selectExpr(
        "CAST(id AS INT) AS v", "id AS k"), loc)
    ddl.rename_column(loc, "v", "val")
    ddl.widen_column(loc, "val", "long")
    write_iceberg(spark.range(5, 8).selectExpr(
        "id AS val", "id AS k"), loc)

    got = {r.k: r.val for r in iceberg_scan(spark, loc).collect()}
    assert got == {i: i for i in range(8)}, got


def test_nested_member_rename_over_object_store(spark, mock_fs):
    """Struct-member rename + widen over an object store, including members
    nested inside list elements and map values: the arrow read path aligns
    structs member-by-member via parquet field ids (a flat arrow cast
    would fail on the renamed member)."""
    from duckdb_iceberg_spark.sources import ddl

    loc = "mock://bucket/t_nested_rename"
    write_iceberg(spark.sql(
        "SELECT id, named_struct('name', concat('p', id), "
        "'age', CAST(20+id AS INT)) AS person, "
        "array(named_struct('tag', concat('t', id))) AS tags, "
        "map('k', named_struct('v', CAST(id AS INT))) AS m "
        "FROM range(3)"), loc)
    ddl.rename_column(loc, "person.name", "given_name")
    ddl.widen_column(loc, "person.age", "long")
    ddl.rename_column(loc, "tags.element.tag", "label")
    ddl.rename_column(loc, "m.value.v", "w")
    write_iceberg(spark.sql(
        "SELECT id+10 AS id, named_struct('given_name', concat('q', id), "
        "'age', CAST(9223372036854775807 AS BIGINT)) AS person, "
        "array(named_struct('label', concat('u', id))) AS tags, "
        "map('k', named_struct('w', CAST(id AS INT))) AS m "
        "FROM range(2)"), loc)

    rows = {r.id: (r.person.given_name, r.person.age, r.tags[0].label,
                   dict(r.m)["k"].w)
            for r in iceberg_scan(spark, loc).collect()}
    assert rows[0] == ("p0", 20, "t0", 0)
    assert rows[2] == ("p2", 22, "t2", 2)
    assert rows[10] == ("q0", 9223372036854775807, "u0", 0)
    assert rows[11] == ("q1", 9223372036854775807, "u1", 1)


def test_align_column_struct_uuid_member():
    """A struct member stored as FIXED_LEN_BYTE_ARRAY(16) (uuid) aligning
    to a string target must render canonically AND return a plain Array —
    StructArray.from_arrays rejects ChunkedArray members."""
    import uuid as _u

    import pyarrow as pa

    from duckdb_iceberg_spark.io.arrow_data import _align_column

    raw = _u.UUID("12345678-1234-5678-1234-567812345678")
    src_t = pa.struct([pa.field("u", pa.binary(16), False)])
    arr = pa.array([{"u": raw.bytes}, None], src_t)
    tgt = pa.field("s", pa.struct([pa.field("u", pa.string(), True)]), True)
    out = _align_column(arr, tgt)
    assert isinstance(out, pa.Array)
    assert out.to_pylist() == [{"u": str(raw)}, None]


# -- item fan-outs on executors read object-store tables through the
# -- FileIO shipped from the driver


def test_distributed_plan_reads_object_store_table(spark, lfs):
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.distributed_planner import (
        plan_scan_distributed,
    )
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from duckdb_iceberg_spark.sources.scan import scan_to_dataframe

    loc = f"{lfs}/t_ship"
    for i in range(3):
        write_iceberg(spark.range(i * 100, (i + 1) * 100)
                      .selectExpr("id", "id % 7 AS k").repartition(4), loc)
    tm = load_table_metadata(loc)
    snap = tm.select_snapshot()
    driver = plan_scan(tm, snap)
    dist = plan_scan_distributed(spark, tm, snap, manifest_threshold=0)
    assert dist.stats["distributed_manifests"] == 3
    assert ({t.data_file.file_path for t in dist.tasks}
            == {t.data_file.file_path for t in driver.tasks})
    assert len(dist.tasks) == 12
    got = sorted(r.id for r in
                 scan_to_dataframe(spark, dist).collect())
    assert got == list(range(300))


def test_rewrite_manifests_distributed_on_object_store(spark, lfs):
    from duckdb_iceberg_spark.sources.maintenance import rewrite_manifests

    loc = f"{lfs}/t_rm"
    write_iceberg(spark.range(300).selectExpr("id", "id * 2 AS v")
                  .repartition(70), loc)
    n = rewrite_manifests(loc, target_entries_per_manifest=1,
                          min_input_manifests=1)["new_manifests"]
    assert n > 64  # above the default fan-out threshold
    out = rewrite_manifests(loc)
    assert out["rewritten_manifests"] == n and out["new_manifests"] == 1
    assert out["distributed_manifest_reads"] == n
    got = sorted((r.id, r.v) for r in iceberg_scan(spark, loc).collect())
    assert got == [(i, 2 * i) for i in range(300)]
