"""The columnar scan plan: manifests decode into columns, the planner
prunes and ships those columns, and ``ScanPlan.tasks`` builds its task
objects only when they are read.

Parity is checked against the tasks built the object way: every
manifest's entries as ``ManifestEntry`` objects, pruned one at a time
and given their deletes by brute force."""

import dataclasses
import gc
import os
import shutil

import pytest
from pyspark.sql import types as T

from duckdb_iceberg_spark import fanout, write_iceberg
from duckdb_iceberg_spark.metadata import manifest as mf
from duckdb_iceberg_spark.metadata import types as ice_types
from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
from duckdb_iceberg_spark.plans import predicates as P
from duckdb_iceberg_spark.plans import scan_plan as sp
from duckdb_iceberg_spark.plans.distributed_planner import plan_scan_distributed
from duckdb_iceberg_spark.plans.scan_plan import FileScanTask, ScanPlan, plan_scan

from .test_bound_file_filter import _metadata_only_table
from .test_lazy_stats import _GRID, _IDENTITY_TYPES, _identity_table


def _expected_tasks(tm, snap, where) -> list[FileScanTask]:
    pred = P.parse_where(where)
    _, schema_json = sp._scan_schema(tm, snap, None)
    filt = sp._FileFilter(tm, pred, schema_json)
    data, pos, eq = [], [], []
    for m in sp.manifests_for_snapshot(tm, snap):
        if not filt.manifest_matches(m):
            continue
        entries = list(mf.read_manifest(sp._localize(tm, m.manifest_path)))
        mf.inherit_first_row_ids(entries, m.first_row_id)
        spec = tm.partition_specs[m.partition_spec_id]
        for e in sp._live_entries(entries, m.sequence_number):
            item = (e, m.partition_spec_id)
            if e.data_file.content == mf.CONTENT_EQUALITY_DELETES:
                eq.append(item)
            elif e.data_file.content == mf.CONTENT_POSITION_DELETES:
                pos.append(item)
            elif filt.matches(e, spec):
                data.append(item)
    tasks = []
    for e, sid in data:
        df = e.data_file
        orig = df.file_path
        df.file_path = sp._localize(tm, orig)
        task = FileScanTask(df, e.sequence_number or 0, sid,
                            first_row_id=df.first_row_id)
        paths, seq = (orig, df.file_path), e.sequence_number or 0
        for de, ds in pos:
            if ((de.sequence_number or 0) >= seq
                    and sp._partitions_overlap(e, de, sid, ds, paths)
                    and sp._pos_delete_path_overlap(de, paths)):
                d = de.data_file
                d.file_path = sp._localize(tm, d.file_path)
                if d.referenced_data_file:
                    d.referenced_data_file = sp._localize(
                        tm, d.referenced_data_file)
                task.positional_deletes.append(d)
        for de, ds in eq:
            if ((de.sequence_number or 0) > seq
                    and sp._partitions_overlap(e, de, sid, ds, paths)
                    and sp._eq_delete_bounds_overlap(e, de,
                                                     filt.fields_by_id)
                    and filt.eq_delete_matches(de)):
                d = de.data_file
                d.file_path = sp._localize(tm, d.file_path)
                task.equality_deletes.append((de.sequence_number or 0, d))
        tasks.append(task)
    return tasks


def _same_data_file(got, want, what):
    for f in dataclasses.fields(mf.DataFile):
        assert getattr(got, f.name) == getattr(want, f.name), (what, f.name)


def _assert_parity(plan, tm, snap, where):
    want = _expected_tasks(tm, snap, where)
    # counts first: they must not need the task objects
    assert len(plan.tasks) == len(want), where
    ref = ScanPlan(tm, snap, want, where, plan.schema_id)
    assert plan.has_deletes == ref.has_deletes, where
    assert plan.estimated_row_count() == ref.estimated_row_count(), where
    assert plan.exact_row_count() == ref.exact_row_count(), where
    got = list(plan.tasks)
    for g, w in zip(got, want):
        what = (where, w.data_file.file_path)
        _same_data_file(g.data_file, w.data_file, what)
        assert (g.sequence_number, g.spec_id, g.first_row_id) == \
            (w.sequence_number, w.spec_id, w.first_row_id), what
        assert len(g.positional_deletes) == len(w.positional_deletes), what
        for a, b in zip(g.positional_deletes, w.positional_deletes):
            _same_data_file(a, b, what)
        assert [s for s, _ in g.equality_deletes] == \
            [s for s, _ in w.equality_deletes], what
        for (_, a), (_, b) in zip(g.equality_deletes, w.equality_deletes):
            _same_data_file(a, b, what)
    assert got == want, where


def _check(spark, monkeypatch, tm, wheres, *, distributed=True):
    snap = tm.select_snapshot()
    for where in wheres:
        mf.clear_manifest_cache()
        _assert_parity(plan_scan(tm, snap, where), tm, snap, where)
    if not distributed:
        return
    with monkeypatch.context() as m:
        m.setattr(fanout, "DRIVER_MAX", 0)
        for where in wheres:
            plan = plan_scan_distributed(spark, tm, snap, where)
            assert "distributed_manifests" in plan.stats
            _assert_parity(plan, tm, snap, where)


@pytest.mark.parametrize("name", sorted(_IDENTITY_TYPES))
def test_identity_grid_parity(tmp_path, name):
    spark_type, ice_type, value, (v, lo, hi) = _IDENTITY_TYPES[name]
    schema = T.StructType([T.StructField("k", spark_type),
                           T.StructField("w", T.LongType())])
    enc = ice_types.encode_bound
    b = enc(ice_type, value)
    tm = _metadata_only_table(str(tmp_path / name), schema, ["k"], [
        ({"k": value}, [({1: b, 2: enc("long", 10 * j)},
                         {1: b, 2: enc("long", 10 * j + 15)})
                        for j in range(3)]),
        ({"k": None}, [({2: enc("long", 0)}, {2: enc("long", 30)})])])
    _check(None, None, tm, [p.format(v=v, lo=lo, hi=hi) for p in _GRID],
           distributed=False)


def test_identity_grid_parity_on_executors(spark, tmp_path, monkeypatch):
    tm = _identity_table(str(tmp_path / "t"), manifests=6, files=5)
    _check(spark, monkeypatch, tm, [None, "partition_id >= 2 AND "
                                    "partition_id < 4", "payload > 7"])


def _ids(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id % 5 AS k").coalesce(1)


def test_positional_and_dv_delete_parity(spark, tmp_path, monkeypatch):
    from duckdb_iceberg_spark.sources.dml import delete_from

    for version in (2, 3):  # positional delete files, then deletion vectors
        loc = str(tmp_path / f"v{version}")
        for i in range(3):
            write_iceberg(_ids(spark, i * 20, i * 20 + 20), loc,
                          partition_by=["k"], format_version=version)
        delete_from(spark, loc, "id % 7 = 3", mode="merge-on-read")
        tm = load_table_metadata(loc)
        assert tm.format_version == version
        _check(spark, monkeypatch, tm, [None, "k = 2", "id >= 30"])


def test_equality_delete_parity(spark, tmp_path, monkeypatch):
    from duckdb_iceberg_spark.sources.dml import equality_delete

    loc = str(tmp_path / "t")
    for i in range(3):
        write_iceberg(_ids(spark, i * 20, i * 20 + 20), loc)
    equality_delete(spark, loc, spark.createDataFrame([(3,), (45,)],
                                                      "id: long"))
    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot())
    assert plan.has_deletes and plan.exact_row_count() is None
    _check(spark, monkeypatch, tm, [None, "id < 10", "id >= 40"])


def test_row_lineage_inheritance_parity(spark, tmp_path, monkeypatch):
    loc = str(tmp_path / "t")
    for i in range(3):
        write_iceberg(spark.range(i * 10, i * 10 + 10).repartition(2), loc,
                      format_version=3)
    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot())
    ids = sorted(t.first_row_id for t in plan.tasks)
    assert None not in ids and len(set(ids)) == len(ids) == 6
    _check(spark, monkeypatch, tm, [None, "id >= 15"])


def test_spec_evolution_parity(spark, tmp_path, monkeypatch):
    from duckdb_iceberg_spark.sources.ddl import set_partitioned_by
    from duckdb_iceberg_spark.sources.dml import delete_from

    loc = str(tmp_path / "t")
    write_iceberg(_ids(spark, 0, 30), loc)
    set_partitioned_by(loc, ["k"])
    write_iceberg(_ids(spark, 30, 60), loc)
    delete_from(spark, loc, "k = 1", mode="merge-on-read")
    tm = load_table_metadata(loc)
    assert len(tm.partition_specs) == 2
    _check(spark, monkeypatch, tm, [None, "k = 2", "k = 1 OR id < 5"])


def test_moved_table_parity(spark, tmp_path, monkeypatch):
    from duckdb_iceberg_spark.sources.dml import delete_from

    src = str(tmp_path / "src")
    for i in range(2):
        write_iceberg(_ids(spark, i * 20, i * 20 + 20), src,
                      partition_by=["k"], format_version=3)
    delete_from(spark, src, "id = 4", mode="merge-on-read")
    moved = str(tmp_path / "moved")
    shutil.copytree(src, moved)
    shutil.rmtree(src)
    tm = load_table_metadata(moved)
    plan = plan_scan(tm, tm.select_snapshot())
    assert all(t.data_file.file_path.startswith(moved) for t in plan.tasks)
    _check(spark, monkeypatch, tm, [None, "k = 4"])


def test_counts_build_no_task_objects(tmp_path, monkeypatch):
    tm = _identity_table(str(tmp_path / "t"), manifests=4, files=10)
    built = {"tasks": 0, "files": 0}

    def counting(cls, key):
        real = cls.__init__

        def init(self, *a, **kw):
            built[key] += 1
            real(self, *a, **kw)
        monkeypatch.setattr(cls, "__init__", init)
    counting(FileScanTask, "tasks")
    counting(mf._DataFileFields, "files")

    mf.clear_manifest_cache()
    plan = plan_scan(tm, tm.select_snapshot(), "partition_id < 3")
    assert len(plan.tasks) == 30 and plan.tasks
    assert plan.estimated_row_count() == plan.stats["estimated_rows"] == 30
    assert not plan.has_deletes
    full = plan_scan(tm, tm.select_snapshot())
    assert len(full.tasks) == full.exact_row_count() == 40
    assert built == {"tasks": 0, "files": 0}
    tasks = list(plan.tasks)
    assert built == {"tasks": 30, "files": 30}
    assert plan.tasks[0] is tasks[0]  # built once and kept
    tasks[0].data_file.record_count = 5
    assert plan.estimated_row_count() == 34  # a change to a task sticks


def test_gc_tracked_objects_per_planned_entry(tmp_path):
    """A len-only plan of 10 000 entries keeps its surviving entries as
    columns: the objects the cyclic collector tracks for it are about 19
    per manifest (its column lists and their table, one partition tuple)
    and none per entry (an entry used to cost about ten: its record's
    dicts, a DataFile, a ManifestEntry, a FileScanTask and its two delete
    lists)."""
    manifests, files = 25, 400
    enc = ice_types.encode_bound
    schema = T.StructType([T.StructField("partition_id", T.IntegerType()),
                           T.StructField("payload", T.LongType())])
    tm = _metadata_only_table(str(tmp_path / "t"), schema, ["partition_id"], [
        ({"partition_id": p},
         [({1: enc("int", p), 2: enc("long", j)},
           {1: enc("int", p), 2: enc("long", j + 9)}) for j in range(files)])
        for p in range(manifests)])
    snap = tm.select_snapshot()
    mf.clear_manifest_cache()
    gc.collect()
    gc.disable()
    try:
        before = len(gc.get_objects())
        plan = plan_scan(tm, snap, "partition_id >= 0")
        n = len(plan.tasks)
        mf.clear_manifest_cache()
        per_entry = (len(gc.get_objects()) - before) / n
    finally:
        gc.enable()
    assert n == manifests * files
    assert per_entry < 0.1, per_entry  # 0.048 when measured


def test_lean_plans_ship_no_stat_run(tmp_path):
    tm = _identity_table(str(tmp_path / "t"), manifests=3, files=4)
    snap = tm.select_snapshot()
    read = sp._data_manifest_reader(tm, P.parse_where("payload > 3"),
                                    tm.schema_json(), None, True)
    items = [(m.manifest_path, m.partition_spec_id, m.sequence_number,
              m.first_row_id) for m in sp.manifests_for_snapshot(tm, snap)]
    for live, kept, deletes in read(iter(items)):
        assert live == 4 and deletes == []
        assert mf.avro_io.RAW not in kept and "split_offsets" not in kept
        assert os.path.basename(kept["file_path"][0]).endswith(".parquet")
    plan = plan_scan(tm, snap, "payload > 3", lean=True)
    assert all(mf.stored_stats(t.data_file) == (None,) * 6
               for t in plan.tasks)
