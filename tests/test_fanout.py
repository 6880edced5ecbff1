"""Every item fan-out returns on executors exactly what it returns on the
driver.

The tables live on ``lfs://`` (the shippable object-store fixture), so an
executor task can only read them through the FileIO that
``fanout.map_items`` installs from the driver's recipe."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from duckdb_iceberg_spark import fanout, iceberg_scan, write_iceberg
from duckdb_iceberg_spark.metadata import manifest as mf
from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
from duckdb_iceberg_spark.plans.distributed_planner import plan_scan_distributed
from duckdb_iceberg_spark.plans.scan_plan import _localize, plan_scan
from duckdb_iceberg_spark.sources import add_files as af_mod
from duckdb_iceberg_spark.sources import maintenance as maint
from duckdb_iceberg_spark.sources import scan as scan_mod
from duckdb_iceberg_spark.sources import writer as writer_mod


@pytest.fixture()
def both_sides(monkeypatch):
    """``run(call)`` → (driver result, executor result): ``call`` runs once
    at the default threshold and once with ``DRIVER_MAX`` forced to 0,
    asserting which side each fan-out given a session took."""
    sides = []
    real = fanout.on_executors

    def spy(spark, *a, **k):
        side = real(spark, *a, **k)
        if spark is not None:
            sides.append(side)
        return side

    monkeypatch.setattr(fanout, "on_executors", spy)

    def run(call):
        out = []
        for driver_max, expect in ((64, False), (0, True)):
            monkeypatch.setattr(fanout, "DRIVER_MAX", driver_max)
            sides.clear()
            out.append(call())
            if expect:  # forced: every fan-out given a session ran there
                assert sides and all(sides), sides
            else:
                assert not any(sides), sides
        return tuple(out)

    return run


def _plain_parquet(dir_path, tables):
    """Write pyarrow tables (no parquet field ids) under ``dir_path``."""
    dir_path.mkdir(parents=True, exist_ok=True)
    paths = []
    for i, t in enumerate(tables):
        p = dir_path / f"part-{i}.parquet"
        pq.write_table(t, str(p))
        paths.append(str(p))
    return paths


def test_footer_sniff_parity_on_name_mapped_table(spark, lfs, tmp_path,
                                                  both_sides, monkeypatch):
    local = _plain_parquet(tmp_path / "src", [
        pa.table({"id": list(range(i * 10, i * 10 + 10)),
                  "s": [f"v{j}" for j in range(10)]}) for i in range(3)])
    files = [f"lfs://{p}" for p in local]

    def sniff():
        monkeypatch.setattr(scan_mod, "_SNIFF_CACHE", {})
        return scan_mod._sniff_footers(spark, files)

    driver, executor = both_sides(sniff)
    assert executor == driver
    assert [has_ids for _, has_ids, _, _, _ in driver] == [False] * 3

    loc = f"{lfs}/t_nm"
    writer_mod.create_table(loc, T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("s", T.StringType())]))
    af_mod.add_files(spark, loc, files)
    tm = load_table_metadata(loc)
    assert "schema.name-mapping.default" in tm.properties
    monkeypatch.setattr(fanout, "DRIVER_MAX", 0)
    monkeypatch.setattr(scan_mod, "_SNIFF_CACHE", {})
    got = sorted((r.id, r.s) for r in iceberg_scan(spark, loc).collect())
    assert got == [(i * 10 + j, f"v{j}") for i in range(3) for j in range(10)]


def test_writer_stats_parity(spark, lfs, both_sides):
    loc = f"{lfs}/t_w"
    write_iceberg(spark.range(300).repartition(5)
                  .selectExpr("id", "CAST(id AS STRING) AS s"), loc)
    tm = load_table_metadata(loc)
    paths = sorted(t.data_file.file_path
                   for t in plan_scan(tm, tm.select_snapshot()).tasks)
    assert len(paths) == 5
    driver, executor = both_sides(
        lambda: writer_mod._collect_stats(spark, paths))
    assert executor == driver
    assert sum(s["record_count"] for s in driver) == 300


def test_add_files_stats_parity_with_date_and_timestamp(spark, lfs, tmp_path,
                                                        both_sides):
    import datetime as dt

    local = _plain_parquet(tmp_path / "src", [
        pa.table({
            "id": pa.array([i, i + 1], pa.int64()),
            "d": pa.array([dt.date(2024, 1, 1 + i), dt.date(2024, 2, 1 + i)],
                          pa.date32()),
            "ts": pa.array([dt.datetime(2024, 1, 1, i, 30, 15, 123456),
                            dt.datetime(2024, 3, 1, i)], pa.timestamp("us")),
        }) for i in range(3)])
    files = [f"lfs://{p}" for p in local]
    fields = [("id", 1, "long"), ("d", 2, "date"), ("ts", 3, "timestamp")]

    driver, executor = both_sides(
        lambda: af_mod._collect_stats(spark, files, fields))
    assert executor == driver
    assert isinstance(driver[0]["lo"][2], dt.date)
    assert isinstance(driver[0]["lo"][3], dt.datetime)

    locs = iter((f"{lfs}/t_af_driver", f"{lfs}/t_af_exec"))

    def import_bounds():
        loc = next(locs)
        writer_mod.create_table(loc, T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("d", T.DateType()),
            T.StructField("ts", T.TimestampNTZType())]))
        af_mod.add_files(spark, loc, files)
        tm = load_table_metadata(loc)
        return [(t.data_file.lower_bounds, t.data_file.upper_bounds)
                for t in plan_scan(tm, tm.select_snapshot()).tasks]

    driver, executor = both_sides(import_bounds)
    assert executor == driver  # encoded bounds, byte for byte
    assert all(set(lo) == {1, 2, 3} for lo, _ in driver)


def test_maintenance_manifest_read_parity(spark, lfs, both_sides):
    loc = f"{lfs}/t_m"
    for i in range(3):
        write_iceberg(spark.range(i * 10, i * 10 + 10).coalesce(1), loc)
    tm = load_table_metadata(loc)
    manifests = mf.read_manifest_list(
        _localize(tm, tm.current_snapshot().manifest_list))
    counts = []

    def read():
        mf.clear_manifest_cache()
        c = {}
        out = [(m.manifest_path, es)
               for m, es in maint._read_manifests(tm, manifests, counts=c)]
        counts.append(c)
        return out

    driver, executor = both_sides(read)
    assert executor == driver
    assert counts == [{}, {"distributed_manifest_reads": 3}]


def test_planner_parity_with_positional_deletes_lean(spark, lfs, both_sides):
    from duckdb_iceberg_spark.sources.dml import delete_from

    loc = f"{lfs}/t_p"
    for i in range(4):
        write_iceberg(spark.range(i * 50, i * 50 + 50)
                      .selectExpr("id", "id % 5 AS k").coalesce(1), loc)
    delete_from(spark, loc, "k = 1", mode="merge-on-read")
    tm = load_table_metadata(loc)
    snap = tm.select_snapshot()

    driver, executor = both_sides(
        lambda: plan_scan_distributed(spark, tm, snap, "id >= 20", lean=True))
    assert executor.tasks == driver.tasks
    assert any(t.positional_deletes for t in driver.tasks)
    assert all(t.data_file.lower_bounds is None for t in driver.tasks)
    assert "distributed_manifests" not in driver.stats
    assert executor.stats.pop("distributed_manifests") == 4
    assert executor.stats == driver.stats
    got = sorted(r.id for r in
                 scan_mod.scan_to_dataframe(spark, executor).collect())
    assert got == [i for i in range(20, 200) if i % 5 != 1]
