"""Distributed manifest pruning must agree exactly with the driver planner."""

import pytest

from duckdb_iceberg_spark import write_iceberg
from duckdb_iceberg_spark.metadata import manifest as mf
from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
from duckdb_iceberg_spark.plans.distributed_planner import plan_scan_distributed
from duckdb_iceberg_spark.plans.scan_plan import plan_scan
from duckdb_iceberg_spark.sources.scan import scan_to_dataframe


def _many_manifest_table(spark, loc, appends=12):
    # each append writes one manifest; ids are range-partitioned so file
    # bounds make predicates selective
    for i in range(appends):
        write_iceberg(
            spark.range(i * 100, (i + 1) * 100).selectExpr("id", "id % 7 AS k")
            .coalesce(1), loc)


def _file_sets(plan):
    return {t.data_file.file_path for t in plan.tasks}


def test_distributed_matches_driver_planner(spark, tmp_path):
    loc = str(tmp_path / "t")
    _many_manifest_table(spark, loc)
    tm = load_table_metadata(loc)
    snap = tm.select_snapshot()

    for where in [None, "id >= 800", "id BETWEEN 250 AND 450"]:
        driver = plan_scan(tm, snap, where)
        dist = plan_scan_distributed(spark, tm, snap, where, manifest_threshold=4)
        assert dist.stats["distributed_manifests"] >= 4
        assert _file_sets(dist) == _file_sets(driver), where
        for k in ("files_total", "files_pruned"):
            assert dist.stats[k] == driver.stats[k], (where, k)
    # the file-level predicates above really prune
    assert plan_scan(tm, snap, "id >= 800").stats["files_pruned"] == 8

    dist = plan_scan_distributed(spark, tm, snap, "id >= 800", manifest_threshold=4)
    assert len(dist.tasks) == 4  # files 800-1199 only
    got = sorted(r.id for r in scan_to_dataframe(spark, dist).collect())
    assert got == list(range(800, 1200))


def test_distributed_rejects_unsupported_data_format(spark, tmp_path):
    """Both planners assemble tasks through one loop, so an unsupported
    data-file format fails the executor-side plan exactly like the
    driver-side one."""
    loc = str(tmp_path / "t_fmt")
    _many_manifest_table(spark, loc, appends=3)
    tm = load_table_metadata(loc)
    snap = tm.select_snapshot()
    m = mf.read_manifest_list(snap.manifest_list)[0]
    entries = mf.read_manifest(m.manifest_path)
    entries[0].data_file.file_format = "JSON"
    mf.write_manifest(m.manifest_path, entries, tm,
                      tm.partition_specs[m.partition_spec_id])
    mf.clear_manifest_cache()

    msg = "File format 'JSON' not supported"
    with pytest.raises(NotImplementedError, match=msg):
        plan_scan(tm, snap)
    with pytest.raises(NotImplementedError, match=msg):
        plan_scan_distributed(spark, tm, snap, manifest_threshold=0)


def test_distributed_reads_current_schema_after_ddl(spark, tmp_path):
    """A latest-snapshot scan resolves against the table's current schema
    on both planners, so a column added by a DDL-only commit shows up."""
    from duckdb_iceberg_spark.sources.ddl import add_column

    loc = str(tmp_path / "t_ddl")
    _many_manifest_table(spark, loc, appends=3)
    add_column(loc, "extra", "long")
    tm = load_table_metadata(loc)
    snap = tm.select_snapshot()
    driver = plan_scan(tm, snap)
    dist = plan_scan_distributed(spark, tm, snap, manifest_threshold=0)
    assert dist.schema_id == driver.schema_id == tm.current_schema_id
    assert "extra" in scan_to_dataframe(spark, dist).columns


def test_distributed_fallback_below_threshold(spark, tmp_path):
    loc = str(tmp_path / "t2")
    _many_manifest_table(spark, loc, appends=3)
    tm = load_table_metadata(loc)
    snap = tm.select_snapshot()
    plan = plan_scan_distributed(spark, tm, snap, None, manifest_threshold=64)
    assert "distributed_manifests" not in plan.stats  # driver path used
    assert len(plan.tasks) == 3


def test_distributed_with_deletes(spark, tmp_path):
    from duckdb_iceberg_spark.sources.dml import delete_from

    loc = str(tmp_path / "t3")
    _many_manifest_table(spark, loc, appends=8)
    delete_from(spark, loc, "k = 2", mode="merge-on-read")
    tm = load_table_metadata(loc)
    snap = tm.select_snapshot()
    dist = plan_scan_distributed(spark, tm, snap, None, manifest_threshold=4)
    assert any(t.positional_deletes for t in dist.tasks)
    got = sorted(r.id for r in scan_to_dataframe(spark, dist).collect())
    assert got == [i for i in range(800) if i % 7 != 2]


def test_lean_planning_same_files_and_readable(spark, tmp_path):
    """r15 (VERDICT r14 task 2): lean=True plans the SAME file set with
    per-column stat maps stripped (post-prune they are dead weight —
    ~1 KB/entry at 1e6-entry scale), and the scan still reads the plan,
    MoR deletes included."""
    from duckdb_iceberg_spark.sources.dml import delete_from

    loc = str(tmp_path / "t_lean")
    _many_manifest_table(spark, loc, appends=6)
    delete_from(spark, loc, "id % 10 = 3", mode="merge-on-read")
    tm = load_table_metadata(loc)
    snap = tm.select_snapshot()

    for where in [None, "id >= 300"]:
        fat = plan_scan(tm, snap, where)
        lean = plan_scan(tm, snap, where, lean=True)
        assert _file_sets(lean) == _file_sets(fat), where
        for t in lean.tasks:
            assert t.data_file.lower_bounds is None
            assert t.data_file.value_counts is None
            assert t.data_file.record_count > 0  # estimates still work
            for d in t.positional_deletes:
                assert d.lower_bounds is None
        assert lean.estimated_row_count() == fat.estimated_row_count()

    # the distributed path strips ON the executor, same file set
    dist = plan_scan_distributed(spark, tm, snap, lean=True,
                                 manifest_threshold=4)
    assert _file_sets(dist) == _file_sets(plan_scan(tm, snap))
    assert all(t.data_file.upper_bounds is None for t in dist.tasks)

    # lean plans still read correctly (deletes applied)
    got = sorted(r.id for r in
                 scan_to_dataframe(spark, plan_scan(tm, snap, lean=True))
                 .collect())
    assert got == [i for i in range(600) if i % 10 != 3]

    # fat plans keep their stats (the default is unchanged)
    assert any(t.data_file.lower_bounds for t in
               plan_scan(tm, snap).tasks)


def test_delete_index_candidates_are_a_superset(spark):
    """r15: the partition-keyed _DeleteIndex is a pure pre-filter — over
    every tricky shape (DV refs, unpartitioned deletes, NULL-valued
    partitions, cross-spec deletes) the filtered candidate set must
    reproduce EXACTLY the matches the brute-force cross product finds."""
    from duckdb_iceberg_spark.io import normalize_path
    from duckdb_iceberg_spark.metadata import manifest as mf
    from duckdb_iceberg_spark.plans.scan_plan import (
        _DeleteIndex,
        _partitions_overlap,
        _pos_delete_path_overlap,
    )

    def entry(path, part, content=mf.CONTENT_DATA, ref=None, seq=1):
        return mf.ManifestEntry(
            status=1, snapshot_id=1, sequence_number=seq,
            file_sequence_number=seq,
            data_file=mf.DataFile(
                content=content, file_path=path, file_format="PARQUET",
                partition=part, record_count=1, file_size_in_bytes=1,
                referenced_data_file=ref))

    data = [
        (entry("/t/d/a.parquet", {"p": 1}), 0),
        (entry("/t/d/b.parquet", {"p": 2}), 0),
        (entry("/t/d/c.parquet", {"p": None}), 0),   # NULL partition
        (entry("/t/d/d.parquet", {}), 0),            # unpartitioned
        (entry("/t/d/e.parquet", {"q": 9}), 7),      # different spec
    ]
    D = mf.CONTENT_POSITION_DELETES
    dels = [
        (entry("/t/del/1.parquet", {"p": 1}, D, seq=2), 0),
        (entry("/t/del/2.parquet", {"p": 3}, D, seq=2), 0),
        (entry("/t/del/3.parquet", {}, D, seq=2), 0),             # global
        (entry("/t/del/4.parquet", {"p": None}, D, seq=2), 0),    # NULL
        (entry("/t/del/5.parquet", {"q": 9}, D, seq=2), 7),       # spec 7
        (entry("/t/del/6.parquet", {}, D,
               ref="/t/d/b.parquet", seq=2), 0),                  # DV ref
    ]
    idx = _DeleteIndex(dels)
    for e, sid in data:
        paths = (e.data_file.file_path, e.data_file.file_path)
        norm = {normalize_path(p) for p in paths}
        brute = {id(de) for de, ds in dels
                 if _partitions_overlap(e, de, sid, ds, paths)
                 and _pos_delete_path_overlap(de, paths)}
        via_idx = {id(de) for de, ds in idx.candidates(e, sid, norm)
                   if _partitions_overlap(e, de, sid, ds, paths)
                   and _pos_delete_path_overlap(de, paths)}
        assert via_idx == brute, e.data_file.file_path
