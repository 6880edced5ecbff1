"""End-to-end write → scan roundtrips on driver testdata."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from duckdb_iceberg_spark import iceberg_count, iceberg_scan, write_iceberg
from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
from duckdb_iceberg_spark.plans.scan_plan import plan_scan

from .conftest import load


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_roundtrip_unpartitioned(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "nation")
    loc = str(tmp_path / "nation_ice")
    write_iceberg(src, loc)
    out = iceberg_scan(spark, loc)
    cols = src.columns
    assert _sorted_rows(out, cols) == _sorted_rows(src, cols)
    # metadata-only exact count
    assert iceberg_count(loc) == src.count()


def test_roundtrip_identity_partitioned(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "lineitem").withColumn(
        "l_shipdate", F.col("l_shipdate").cast("date")
    )
    loc = str(tmp_path / "li_part")
    write_iceberg(src, loc, partition_by=["l_returnflag"])
    out = iceberg_scan(spark, loc)
    assert out.count() == src.count()
    # identity partition column restored from partition metadata
    got = _sorted_rows(out.groupBy("l_returnflag").count(), ["l_returnflag", "count"])
    want = _sorted_rows(src.groupBy("l_returnflag").count(), ["l_returnflag", "count"])
    assert got == want


def test_partition_pruning_bucket_and_month(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "lineitem").withColumn(
        "l_shipdate", F.col("l_shipdate").cast("date")
    )
    loc = str(tmp_path / "li_bucket")
    write_iceberg(src, loc, partition_by=["bucket(4, l_orderkey)", "month(l_shipdate)"])

    tm = load_table_metadata(loc)
    full = plan_scan(tm, tm.select_snapshot())
    pruned = plan_scan(tm, tm.select_snapshot(),
                       where="l_shipdate >= DATE '1995-03-01' AND l_shipdate < DATE '1995-04-01'")
    assert 0 < len(pruned.tasks) < len(full.tasks)

    out = iceberg_scan(spark, loc,
                       where="l_shipdate >= DATE '1995-03-01' AND l_shipdate < DATE '1995-04-01'")
    want = src.filter("l_shipdate >= DATE '1995-03-01' AND l_shipdate < DATE '1995-04-01'")
    assert out.count() == want.count()
    assert out.agg(F.sum("l_quantity")).first()[0] == pytest.approx(
        want.agg(F.sum("l_quantity")).first()[0]
    )

    # bucket pruning on equality
    one = plan_scan(tm, tm.select_snapshot(), where="l_orderkey = 1")
    assert len(one.tasks) < len(full.tasks)
    got = iceberg_scan(spark, loc, where="l_orderkey = 1").count()
    assert got == src.filter("l_orderkey = 1").count()


def test_string_bucket_write_and_pruning(spark, sf_dir, tmp_path):
    """String-bucketed writes (the most common bucket key class) route
    through the vectorized variable-width murmur (murmur3_32_var_np); a
    wrong hash would place rows in the wrong bucket file and equality
    pruning would then drop LIVE rows — so the roundtrip + pruned-scan
    equality here pins write hash == spec hash == predicate hash."""
    from duckdb_iceberg_spark.plans.transforms import bucket_value

    src = load(spark, sf_dir, "orders")
    loc = str(tmp_path / "orders_sbucket")
    write_iceberg(src, loc, partition_by=["bucket(4, o_orderpriority)"])

    tm = load_table_metadata(loc)
    full = plan_scan(tm, tm.select_snapshot())
    assert 1 < len(full.tasks) <= 4  # 5 priorities spread over >1 bucket
    # every file's partition value matches the spec-scalar hash of its rows
    for t in full.tasks:
        b = t.data_file.partition.get("o_orderpriority_bucket")
        vals = {r.o_orderpriority for r in
                spark.read.parquet(t.data_file.file_path).collect()}
        assert {bucket_value(v, 4, "string") for v in vals} == {b}

    pri = src.select("o_orderpriority").first()[0]
    pruned = plan_scan(tm, tm.select_snapshot(),
                       where=f"o_orderpriority = '{pri}'")
    assert 0 < len(pruned.tasks) < len(full.tasks)
    got = iceberg_scan(spark, loc, where=f"o_orderpriority = '{pri}'").count()
    assert got == src.filter(F.col("o_orderpriority") == pri).count()
    assert iceberg_scan(spark, loc).count() == src.count()


def test_append_and_time_travel(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "region")
    loc = str(tmp_path / "region_ice")
    tm1 = write_iceberg(src, loc)
    snap1 = tm1.current_snapshot_id
    write_iceberg(src, loc)  # append again → doubled
    assert iceberg_scan(spark, loc).count() == 2 * src.count()
    assert iceberg_scan(spark, loc, snapshot_id=snap1).count() == src.count()
    # snapshot list grows
    tm = load_table_metadata(loc)
    assert len(tm.snapshots) == 2
    assert tm.snapshots[1].parent_snapshot_id == snap1


def test_overwrite(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "region")
    loc = str(tmp_path / "region_ow")
    write_iceberg(src, loc)
    write_iceberg(src.limit(2), loc, mode="overwrite")
    assert iceberg_scan(spark, loc).count() == 2


def test_sorted_write(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "supplier")
    loc = str(tmp_path / "supp_sorted")
    write_iceberg(src, loc, sort_by=["s_suppkey"])
    out = iceberg_scan(spark, loc)
    assert out.count() == src.count()
    tm = load_table_metadata(loc)
    assert tm.default_sort_order().fields[0].direction == "asc"


def test_file_info_virtual_columns(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "region")
    loc = str(tmp_path / "region_fi")
    write_iceberg(src, loc)
    out = iceberg_scan(spark, loc, with_file_info=True)
    rows = out.select("filename", "file_row_number").collect()
    assert all(r.filename and r.filename.endswith(".parquet") for r in rows)
    assert sorted({r.file_row_number for r in rows})[0] == 0


def test_footer_stats_recovery_url_encoded_path(spark, sf_dir, tmp_path, monkeypatch):
    """When pyarrow can't parse footers, record counts are recovered via a
    Spark job keyed on _metadata.file_path — a percent-encoded URI. A table
    directory with a space (encodes to %20) must still recover exact counts
    (no silent record_count=0 in manifests), and a genuinely missing file
    must raise, not default to 0."""
    from duckdb_iceberg_spark.sources import writer as W

    src = load(spark, sf_dir, "region")
    loc = str(tmp_path / "dir with space" / "tbl+x")
    monkeypatch.setattr(
        W, "_footer_stats_one",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("forced")))
    write_iceberg(src, loc)
    tm = load_table_metadata(loc)
    from duckdb_iceberg_spark import iceberg_count
    assert iceberg_count(loc) == src.count()  # metadata-only: sums record_count
    assert iceberg_scan(spark, loc).count() == src.count()


def test_target_file_size_splits_insert_output(spark, tmp_path):
    """write.target-file-size-bytes sizes INSERT output files (reference:
    file_properties/test_target_file_size_bytes.test — 500k rows at a
    1 MiB target land in ~4-6 files; our rows-per-file derivation is
    approximate, so assert the right order of magnitude and that a
    no-target write of the same data stays in far fewer files)."""
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from duckdb_iceberg_spark.sources.writer import parse_byte_size

    assert parse_byte_size("1048576") == 1 << 20
    assert parse_byte_size("1024KB") == 1 << 20
    assert parse_byte_size("2MB") == 2 << 20
    assert parse_byte_size("1GB") == 1 << 30

    df = spark.range(500_000).selectExpr(
        "CAST(id AS INT) AS user_id",
        "concat('thisisalongstring', CAST(id AS STRING)) AS data",
        "1 AS partition_id").coalesce(2)
    loc = str(tmp_path / "sized")
    write_iceberg(df, loc, partition_by=["partition_id"],
                  properties={"write.target-file-size-bytes": "1048576",
                              "write.parquet.compression-codec": "snappy"})
    tm = load_table_metadata(loc)
    n_files = len(plan_scan(tm, tm.select_snapshot(), None).tasks)
    assert 3 <= n_files <= 12, n_files

    loc2 = str(tmp_path / "unsized")
    write_iceberg(df, loc2, partition_by=["partition_id"])
    tm2 = load_table_metadata(loc2)
    n2 = len(plan_scan(tm2, tm2.select_snapshot(), None).tasks)
    assert n2 < n_files

    got = iceberg_scan(spark, loc)
    assert got.count() == 500_000


def test_parquet_row_group_size_property(spark, tmp_path):
    """write.parquet.row-group-size-bytes maps to parquet.block.size
    (reference: iceberg_insert.cpp ICEBERG_TABLE_PROPERTY_MAPPING) — a
    small target yields multiple row groups per data file."""
    import pyarrow.parquet as pq

    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan

    loc = str(tmp_path / "rg")
    write_iceberg(
        spark.range(200_000).selectExpr(
            "id", "concat('payload-', CAST(id AS STRING)) AS s").coalesce(1),
        loc, properties={"write.parquet.row-group-size-bytes": "64KB"})
    tm = load_table_metadata(loc)
    tasks = plan_scan(tm, tm.select_snapshot(), None).tasks
    assert len(tasks) == 1
    assert pq.ParquetFile(tasks[0].data_file.file_path).num_row_groups > 1
    assert iceberg_scan(spark, loc).count() == 200_000


def test_snapshot_summary_file_size_metrics(spark, tmp_path):
    """Snapshot summaries carry added-files-size / total-files-size /
    removed-files-size (reference:
    test_snapshot_summary_file_size_metrics.test): added matches the
    manifest's ADDED file bytes, the total accumulates across commits,
    and removed appears only when files are removed."""
    from duckdb_iceberg_spark.metadata import manifest as mf
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.sources.dml import delete_from

    loc = str(tmp_path / "t")
    write_iceberg(spark.createDataFrame([(1, "a"), (2, "b")],
                                        "id int, payload string"), loc)
    tm = load_table_metadata(loc)
    s1 = tm.current_snapshot()
    added = sum(
        int(e.data_file.file_size_in_bytes)
        for m in mf.read_manifest_list(s1.manifest_list)
        for e in mf.read_manifest(m.manifest_path)
        if e.status == mf.STATUS_ADDED)
    assert int(s1.summary["added-files-size"]) == added
    assert int(s1.summary["total-files-size"]) == added
    assert "removed-files-size" not in s1.summary

    write_iceberg(spark.createDataFrame([(3, "c"), (4, "d")],
                                        "id int, payload string"), loc)
    tm = load_table_metadata(loc)
    s2 = tm.current_snapshot()
    assert int(s2.summary["total-files-size"]) == \
        added + int(s2.summary["added-files-size"])

    # copy-on-write delete removes files: removed-files-size appears and
    # the running total goes down accordingly
    delete_from(spark, loc, "id <= 2", mode="copy-on-write")
    tm = load_table_metadata(loc)
    s3 = tm.current_snapshot()
    assert int(s3.summary["removed-files-size"]) > 0
    assert int(s3.summary["total-files-size"]) == (
        int(s2.summary["total-files-size"])
        + int(s3.summary.get("added-files-size", 0))
        - int(s3.summary["removed-files-size"]))


def test_metrics_mode_configuration(spark, tmp_path):
    """write.metadata.metrics.default + per-column overrides (reference:
    test_metrics_mode_configuration.test): truncate(8) default bounds at 8
    code points (upper rounded up), full keeps exact bounds, counts drops
    bounds but keeps counts, none drops everything, truncate(4) bounds at
    4; an unset table defaults to the spec's truncate(16)."""
    import pytest as _pytest

    from duckdb_iceberg_spark.metadata import manifest as mf
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata

    def added_file(loc):
        tm = load_table_metadata(loc)
        for m in mf.read_manifest_list(tm.current_snapshot().manifest_list):
            for e in mf.read_manifest(m.manifest_path):
                if e.status == mf.STATUS_ADDED:
                    return e.data_file, {
                        f["name"]: f["id"]
                        for f in tm.schema_json()["fields"]}
        raise AssertionError("no added file")

    loc = str(tmp_path / "m")
    write_iceberg(
        spark.createDataFrame([("abcdefghijklmnop",) * 5],
                              "a string, b string, c string, d string, e string"),
        loc,
        properties={"write.metadata.metrics.default": "truncate(8)",
                    "write.metadata.metrics.column.b": "full",
                    "write.metadata.metrics.column.c": "counts",
                    "write.metadata.metrics.column.d": "none",
                    "write.metadata.metrics.column.e": "truncate(4)"})
    df, ids = added_file(loc)
    assert len(df.lower_bounds[ids["a"]]) == 8
    assert len(df.upper_bounds[ids["a"]]) == 8
    assert df.upper_bounds[ids["a"]] == b"abcdefgi"  # rounded up
    assert df.lower_bounds[ids["b"]] == b"abcdefghijklmnop"  # full
    assert ids["c"] not in (df.lower_bounds or {})
    assert (df.value_counts or {}).get(ids["c"]) == 1  # counts survive
    assert ids["d"] not in (df.lower_bounds or {})
    assert ids["d"] not in (df.value_counts or {})  # none: no metrics
    assert len(df.lower_bounds[ids["e"]]) == 4

    # unset default = truncate(16)
    loc2 = str(tmp_path / "d")
    write_iceberg(spark.createDataFrame([("abcdefghijklmnopqrst",)],
                                        "s string"), loc2)
    df2, ids2 = added_file(loc2)
    assert len(df2.lower_bounds[ids2["s"]]) == 16

    # invalid mode fails the write (reference raises the same)
    with _pytest.raises(ValueError, match="write.metadata.metrics"):
        write_iceberg(spark.createDataFrame([("x",)], "a string"),
                      str(tmp_path / "bad"),
                      properties={"write.metadata.metrics.default": "banana"})

    # multi-byte upper bound rounds up on CODE POINTS, never splits one
    loc3 = str(tmp_path / "mb")
    write_iceberg(spark.createDataFrame([("ééééé-tail",)], "s string"), loc3,
                  properties={"write.metadata.metrics.default": "truncate(3)"})
    df3, ids3 = added_file(loc3)
    up = df3.upper_bounds[ids3["s"]].decode("utf-8")
    assert len(up) == 3 and up >= "ééé" and up > "ééééé-tail"[:3]


def test_manifest_compression_codec_property(spark, tmp_path):
    """write.manifest.compression-codec: default deflate; none/uncompressed
    writes null-codec Avro; invalid values error (reference:
    test_manifest_compression.test + iceberg_avro_codec.cpp)."""
    import pytest as _pytest

    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata

    def ml_codec(loc):
        tm = load_table_metadata(loc)
        with open(tm.current_snapshot().manifest_list, "rb") as fh:
            head = fh.read(4096)
        return b"deflate" in head, b"null" in head.split(b"avro.codec")[1][:16]

    loc = str(tmp_path / "d")
    write_iceberg(spark.range(10), loc)
    deflate, null = ml_codec(loc)
    assert deflate and not null

    loc2 = str(tmp_path / "n")
    write_iceberg(spark.range(10), loc2,
                  properties={"write.manifest.compression-codec": "none"})
    deflate, null = ml_codec(loc2)
    assert null and not deflate
    assert iceberg_scan(spark, loc2).count() == 10

    with _pytest.raises(NotImplementedError, match="compression-codec"):
        write_iceberg(spark.range(5), str(tmp_path / "bad"),
                      properties={"write.manifest.compression-codec": "lz77"})


def test_empty_copy_roundtrip(spark, tmp_path):
    """A 0-row write must still produce a readable Iceberg table with the
    declared schema (reference: test/sql/copy/empty_copy.test — 'COPY with
    0 rows should also produce a readable empty table')."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata

    loc = str(tmp_path / "empty_tbl")
    write_iceberg(spark.sql("SELECT 1 AS x WHERE false"), loc)
    got = iceberg_scan(spark, loc)
    assert got.count() == 0
    assert got.schema.fieldNames() == ["x"]
    # the commit is a real snapshot: appending afterwards works normally
    tm = load_table_metadata(loc)
    assert tm.current_snapshot() is not None
    write_iceberg(spark.sql("SELECT 2 AS x"), loc)
    assert [r.x for r in iceberg_scan(spark, loc).collect()] == [2]


def test_hour_partition_pre_epoch(spark, tmp_path):
    """Pre-epoch temporal transforms are FLOOR-based (negative ordinals),
    not truncation-toward-zero (reference: insert/partitions/temporal/
    test_hour_timestamp_pre_epoch.test): 1969-12-31T23:30 lands in hour
    -1, 12:15 in hour -12, and partition pruning stays exact across the
    epoch boundary."""
    import datetime as dt

    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan

    loc = str(tmp_path / "t_preepoch")
    rows = [(1, dt.datetime(1969, 12, 31, 23, 30)),
            (2, dt.datetime(1970, 1, 1, 0, 30)),
            (3, dt.datetime(1969, 12, 31, 12, 15)),
            (4, dt.datetime(1969, 6, 1, 0, 0))]
    write_iceberg(spark.createDataFrame(rows, "id long, ts timestamp"),
                  loc, partition_by=["hour(ts)"])

    tm = load_table_metadata(loc)
    parts = sorted(t.data_file.partition["ts_hour"]
                   for t in plan_scan(tm, tm.select_snapshot()).tasks)
    assert parts == [-5136, -12, -1, 0]

    plan = plan_scan(tm, tm.select_snapshot(),
                     "ts = TIMESTAMP '1969-12-31 23:30:00'")
    assert len(plan.tasks) == 1
    assert iceberg_scan(
        spark, loc, where="ts < TIMESTAMP '1970-01-01 00:00:00'").count() == 3
    got = iceberg_scan(spark, loc).orderBy("id").collect()
    assert [r.id for r in got] == [1, 2, 3, 4]


def test_partition_summary_string_upper_bound_sound(spark, tmp_path):
    """Manifest-list partition field-summary upper bounds must be >= every
    partition value (reference: test_partition_summary_string_upper_bound
    .test, duckdb-iceberg#1047 — a 16-byte truncated-DOWN upper bound
    pruned a partition out of its own manifest). This engine stores exact
    partition values in field summaries, so the bound is trivially sound;
    this pins it through iceberg_partition_stats end to end."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.sources.metadata_tables import (
        iceberg_partition_stats)
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata

    loc = str(tmp_path / "t_ub")
    val = "0123456789abcdef0123456789abcdef"  # truncate(20) > 16 bytes
    write_iceberg(
        spark.createDataFrame([(1, val)], "id int, p string"),
        loc, partition_by=["truncate(20, p)"])

    part_val = val[:20]
    stats = iceberg_partition_stats(spark, loc).collect()
    row = next(r for r in stats if r.upper_bound is not None)
    assert row.upper_bound >= part_val
    assert row.lower_bound <= part_val
    # and the partition prunes INTO (not out of) its own manifest
    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot(), f"p = '{val}'")
    assert len(plan.tasks) == 1


def test_null_partition_values_roundtrip_prune_delete(spark, tmp_path):
    """NULL partition values (reference: insert/partitions/null_values/
    test_null_partition_values.test + delete/partitions/delete_null_
    partition.test): NULLs land in their own partition, IS NULL / IS NOT
    NULL prune to exactly the matching files (field-summary contains_null
    drives the manifest side), and a MoR delete of the null partition
    removes only those rows."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from duckdb_iceberg_spark.sources.dml import delete_from

    loc = str(tmp_path / "t_nullpart")
    write_iceberg(
        spark.createDataFrame([(1, "a"), (2, None), (3, "b"), (4, None)],
                              "id long, p string"),
        loc, partition_by=["p"])
    tm = load_table_metadata(loc)
    assert len(plan_scan(tm, tm.select_snapshot()).tasks) == 3
    assert len(plan_scan(tm, tm.select_snapshot(), "p IS NULL").tasks) == 1
    assert len(plan_scan(tm, tm.select_snapshot(), "p IS NOT NULL").tasks) == 2
    assert iceberg_scan(spark, loc, where="p IS NULL").count() == 2

    delete_from(spark, loc, "p IS NULL", mode="merge-on-read")
    assert sorted(r.id for r in iceberg_scan(spark, loc).collect()) == [1, 3]


def test_non_ascii_string_bounds_sound(spark, tmp_path):
    """Non-ASCII column bounds (reference: insert/test_write_non_ascii_
    string_upper_bound.test + ..._lower_bound.test): values longer than
    the 16-code-point metrics truncation, with multi-byte characters at
    the cut, must keep lower <= value <= upper so an equality filter never
    prunes the file holding its own row."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan

    loc = str(tmp_path / "t_na")
    vals = ["ααααααααααααααααΩΩΩΩ", "züüüüüüüüüüüüüüüüüüz",
            "plain ascii shorty"]
    write_iceberg(
        spark.createDataFrame(list(enumerate(vals)), "id int, s string"), loc)
    tm = load_table_metadata(loc)
    for v in vals:
        p = plan_scan(tm, tm.select_snapshot(), f"s = '{v}'")
        assert len(p.tasks) == 1, f"bounds pruned the file holding {v!r}"
        assert iceberg_scan(spark, loc, where=f"s = '{v}'").count() == 1


def test_custom_write_paths(spark, tmp_path):
    """write.data.path / write.metadata.path table properties (reference:
    iceberg_table_metadata.cpp:512-529 GetDataPath/GetMetadataPath,
    test_custom_write_paths.test): INSERT data files, DML delete files,
    and manifests/manifest lists all land at the custom roots; version
    files stay at <location>/metadata so path-based resolution keeps
    working (the reference's read path likewise hardcodes that join,
    iceberg_table_metadata.cpp:248); scans and orphan cleanup follow the
    custom roots."""
    import os

    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import (
        load_table_metadata,
    )
    from duckdb_iceberg_spark.sources.dml import delete_from
    from duckdb_iceberg_spark.sources.maintenance import remove_orphan_files

    loc = str(tmp_path / "t_cwp")
    data_dir = str(tmp_path / "elsewhere_data")
    meta_dir = str(tmp_path / "elsewhere_meta")
    df = spark.createDataFrame([(i, f"n{i}") for i in range(10)],
                               "id int, name string")
    write_iceberg(df, loc, properties={"write.data.path": data_dir,
                                       "write.metadata.path": meta_dir})

    tm = load_table_metadata(loc)
    assert tm.data_path() == data_dir
    assert tm.metadata_write_path() == meta_dir
    # data parquet under the custom data root, none under <loc>/data
    assert any(f.endswith(".parquet") for _, _, fs in os.walk(data_dir)
               for f in fs)
    assert not os.path.exists(os.path.join(loc, "data"))
    # manifests + manifest list under the custom metadata root
    assert any(f.endswith(".avro") for _, _, fs in os.walk(meta_dir)
               for f in fs)
    # version files stay at <loc>/metadata for self-resolution
    assert os.path.exists(os.path.join(loc, "metadata", "version-hint.text"))
    assert not any(f.endswith(".avro")
                   for _, _, fs in os.walk(os.path.join(loc, "metadata"))
                   for f in fs)

    # scans resolve through the custom roots
    assert iceberg_scan(spark, loc).count() == 10

    # MoR delete: the positional-delete file goes to the custom data root
    delete_from(spark, loc, "id < 3", mode="merge-on-read")
    assert iceberg_scan(spark, loc).count() == 7
    assert any("deletes-" in r for r, _d, _f in os.walk(data_dir))

    # orphan scan covers the custom root: plant a stale unreferenced file
    orphan = os.path.join(data_dir, "stray.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"junk")
    os.utime(orphan, (1, 1))
    removed = remove_orphan_files(loc)
    assert orphan in removed and not os.path.exists(orphan)


def test_empty_insert_roundtrip(spark, tmp_path):
    """A zero-row write commits a readable snapshot (reference:
    iceberg_scans/test_read_empty_insert.test): the scan returns the full
    schema with zero rows, and a later real insert appends on top."""
    import pyspark.sql.types as T

    from duckdb_iceberg_spark import iceberg_scan, write_iceberg

    loc = str(tmp_path / "t_empty")
    schema = T.StructType([
        T.StructField("a", T.LongType()), T.StructField("b", T.StringType()),
        T.StructField("c", T.DoubleType())])
    write_iceberg(spark.createDataFrame([], schema), loc)
    df = iceberg_scan(spark, loc)
    assert df.columns == ["a", "b", "c"] and df.count() == 0
    write_iceberg(spark.createDataFrame([(1, "x", 1.0)], schema), loc)
    assert iceberg_scan(spark, loc).count() == 1


def test_write_data_path_added_mid_life(spark, tmp_path):
    """A table that gains write.data.path AFTER its first snapshot (via
    the SQL ALTER route): the next insert lands under the new root, old
    files keep reading from <location>/data, and orphan cleanup scans
    BOTH roots."""
    import os

    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.sources.maintenance import remove_orphan_files
    from duckdb_iceberg_spark.sources.sql import execute_sql, register_table

    loc = str(tmp_path / "t_midlife")
    late_dir = str(tmp_path / "late_data")
    df = spark.createDataFrame([(i,) for i in range(5)], "id int")
    write_iceberg(df, loc)
    register_table(spark, "t_midlife", loc)
    execute_sql(
        spark,
        f"ALTER TABLE t_midlife SET ('write.data.path'='{late_dir}')")
    write_iceberg(
        spark.createDataFrame([(i,) for i in range(5, 8)], "id int"), loc)

    assert iceberg_scan(spark, loc).count() == 8
    assert any(f.endswith(".parquet") for _, _, fs in os.walk(late_dir)
               for f in fs), "post-ALTER insert must use the new data root"
    assert any(f.endswith(".parquet")
               for _, _, fs in os.walk(os.path.join(loc, "data"))
               for f in fs), "pre-ALTER files stay where they were written"

    # orphans planted under BOTH roots are found
    strays = []
    for root in (os.path.join(loc, "data"), late_dir):
        p = os.path.join(root, "stray.parquet")
        with open(p, "wb") as fh:
            fh.write(b"junk")
        os.utime(p, (1, 1))
        strays.append(p)
    removed = remove_orphan_files(loc)
    assert all(s in removed for s in strays)


def test_time_type_write_scan_roundtrip(spark, tmp_path):
    """Iceberg `time` end-to-end through OUR write path as a real Spark
    TimeType (4.1+, r10): write_iceberg maps TimeType → iceberg 'time',
    bounds encode as µs int64 (spec Appendix D), the scan surfaces
    datetime.time, TIME'...' predicates prune on the stats, and
    identity-partitioning by a time column survives the manifest
    partition-value roundtrip."""
    import datetime as dt

    import pytest as _pytest
    from pyspark.sql import types as T

    if not hasattr(T, "TimeType"):
        _pytest.skip("Spark TimeType not available")

    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import (
        load_table_metadata,
    )

    rows = [(i, dt.time(8 + i, 30, i, i * 1000)) for i in range(4)]
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("t", T.TimeType())])
    loc = str(tmp_path / "t_time")
    write_iceberg(spark.createDataFrame(rows, schema), loc)
    tm = load_table_metadata(loc)
    fields = {f["name"]: f["type"] for f in tm.schema_json()["fields"]}
    assert fields["t"] == "time"
    back = iceberg_scan(spark, loc).orderBy("id")
    assert [tuple(r) for r in back.collect()] == rows
    # stats pruning on a TIME literal: only one row's file qualifies when
    # each row landed in its own file
    got = iceberg_scan(spark, loc, where="t >= TIME'11:00:00'")
    assert sorted(r.id for r in got.collect()) == [3]

    # identity partition by time: values roundtrip through hive dirs +
    # manifest avro (time-micros logical type)
    loc2 = str(tmp_path / "t_time_part")
    write_iceberg(spark.createDataFrame(rows, schema), loc2,
                  partition_by=["t"])
    back2 = iceberg_scan(spark, loc2).orderBy("id")
    assert [tuple(r) for r in back2.collect()] == rows
    got2 = iceberg_scan(spark, loc2, where="t = TIME'09:30:01.001'")
    assert [r.id for r in got2.collect()] == [1]


def test_orphans_found_under_historical_data_roots(spark, tmp_path):
    """write.data.path changed MORE THAN ONCE: an aborted write stranded
    under an EARLIER override root (no longer the current property value)
    is still found — the orphan scan harvests every historical
    write.data.path from the metadata-log's previous versions (ADVICE
    r9: earlier override roots were never scanned again)."""
    import os

    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.sources.maintenance import remove_orphan_files
    from duckdb_iceberg_spark.sources.sql import execute_sql, register_table

    loc = str(tmp_path / "t_twice")
    root1 = str(tmp_path / "root_one")
    root2 = str(tmp_path / "root_two")
    write_iceberg(spark.createDataFrame([(1,)], "id int"), loc)
    register_table(spark, "t_twice", loc)
    execute_sql(spark,
                f"ALTER TABLE t_twice SET ('write.data.path'='{root1}')")
    write_iceberg(spark.createDataFrame([(2,)], "id int"), loc)
    execute_sql(spark,
                f"ALTER TABLE t_twice SET ('write.data.path'='{root2}')")
    write_iceberg(spark.createDataFrame([(3,)], "id int"), loc)

    # a stray under the FIRST (historical) override root
    stray = os.path.join(root1, "stray.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"junk")
    os.utime(stray, (1, 1))
    removed = remove_orphan_files(loc)
    assert stray in removed
    # referenced files under every root survived
    from duckdb_iceberg_spark import iceberg_scan
    assert iceberg_scan(spark, loc).count() == 3


def test_parquet_bloom_filter_column_properties(spark, tmp_path):
    """r14: write.parquet.bloom-filter-enabled.column.<col> /
    bloom-filter-fpp.column.<col> map to Spark's per-column parquet
    writer options (the reference leaves these as a TODO — its host's
    bloom knobs are per-table, iceberg_insert.cpp:628-630). No reader in
    this container exposes bloom offsets, so the check is behavioral:
    the bloom-bearing file is materially larger for identical rows, and
    scans read back identically."""
    import os

    from duckdb_iceberg_spark import iceberg_scan, write_iceberg

    df = spark.range(0, 100_000).selectExpr(
        "id", "cast(id as string) s").coalesce(1)
    plain, bloomy = str(tmp_path / "t_plain"), str(tmp_path / "t_bloom")
    write_iceberg(df, plain)
    write_iceberg(df, bloomy, properties={
        "write.parquet.bloom-filter-enabled.column.s": "true",
        "write.parquet.bloom-filter-fpp.column.s": "0.01",
    })

    def data_bytes(loc):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(os.path.join(loc, "data"))
            for f in fs if f.endswith(".parquet"))

    delta = data_bytes(bloomy) - data_bytes(plain)
    assert delta > 50_000, (
        f"bloom filter bytes missing from the written file (delta "
        f"{delta}) - the per-column option did not reach the writer")
    a = sorted(r.id for r in iceberg_scan(spark, bloomy).collect())
    assert a == list(range(100_000))


def test_reserved_scan_column_names_raise(spark, tmp_path):
    """A table column named like the scan's internal (file, pos) columns
    raises a ValueError naming them instead of an ambiguous-reference
    analysis error, for a file-info scan and for a merge-on-read delete;
    a plain scan, which appends neither column, still reads it."""
    from duckdb_iceberg_spark.sources.dml import delete_from

    loc = str(tmp_path / "reserved")
    write_iceberg(spark.range(5).selectExpr("id", "'x' AS __ice_file"), loc)
    assert iceberg_scan(spark, loc).count() == 5
    with pytest.raises(ValueError, match="__ice_file.*__ice_pos"):
        iceberg_scan(spark, loc, with_file_info=True)
    with pytest.raises(ValueError, match="__ice_file.*__ice_pos"):
        delete_from(spark, loc, "id = 1", mode="merge-on-read")
    assert iceberg_scan(spark, loc).count() == 5
