"""One commit protocol for filesystem tables: requirements + TableUpdates
committed by exclusive create of the next metadata version, with the same
refresh → rebuild → retry loop REST tables use.

The threaded races run more threads than cores with a shortened switch
interval; each thread is joined with a timeout and must have finished."""

from __future__ import annotations

import json
import logging
import os
import sys
import threading

import pytest

from duckdb_iceberg_spark.catalog import CommitConflict
from duckdb_iceberg_spark.catalog.commit import FileTable, committer
from duckdb_iceberg_spark.metadata import manifest as mf
from duckdb_iceberg_spark.metadata.table_metadata import (
    TableMetadata,
    apply_updates,
    load_table_metadata,
    write_table_metadata,
)
from duckdb_iceberg_spark.plans.scan_plan import plan_scan
from duckdb_iceberg_spark.sources.writer import commit_snapshot, create_table

#: retries ≥ N−1 for N racing writers, waits in milliseconds
FAST_RETRY = {"commit.retry.num-retries": "10",
              "commit.retry.min-wait-ms": "1",
              "commit.retry.max-wait-ms": "5"}


def _schema():
    from pyspark.sql import types as T

    return T.StructType([T.StructField("id", T.LongType())])


def _data_file(loc: str, name: str) -> mf.DataFile:
    return mf.DataFile(
        content=mf.CONTENT_DATA, file_path=f"{loc}/data/{name}.parquet",
        file_format="PARQUET", partition={}, record_count=1,
        file_size_in_bytes=10)


def _pos_delete(loc: str, name: str) -> mf.DataFile:
    return mf.DataFile(
        content=mf.CONTENT_POSITION_DELETES,
        file_path=f"{loc}/data/{name}-deletes.parquet",
        file_format="PARQUET", partition={}, record_count=1,
        file_size_in_bytes=10)


def _race(n: int, fn) -> None:
    """Run fn(0..n-1) on n threads released together; every thread must
    finish in time and none may raise."""
    start = threading.Barrier(n)
    errors: list[BaseException] = []

    def run(i):
        try:
            start.wait(timeout=30)
            fn(i)
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors


def _no_temp_files(loc: str) -> None:
    meta = os.path.join(loc, "metadata")
    assert not [f for f in os.listdir(meta) if ".tmp-" in f]


def test_concurrent_appends_all_land(tmp_path, caplog):
    loc = str(tmp_path / "t")
    create_table(loc, _schema(), properties=FAST_RETRY)
    caplog.set_level(logging.DEBUG, logger="duckdb_iceberg_spark.commit")

    _race(8, lambda i: commit_snapshot(
        load_table_metadata(loc), operation="append",
        new_data_files=[_data_file(loc, f"f{i}")]))

    tm = load_table_metadata(loc)
    assert len(tm.snapshots) == 8
    planned = {t.data_file.file_path
               for t in plan_scan(tm, tm.current_snapshot()).tasks}
    assert planned == {_data_file(loc, f"f{i}").file_path for i in range(8)}
    _no_temp_files(loc)
    events = [json.loads(r.getMessage()) for r in caplog.records
              if r.name == "duckdb_iceberg_spark.commit"]
    assert len(events) == 8
    assert {e["outcome"] for e in events} == {"committed"}
    assert max(e["attempts"] for e in events) > 1


def test_concurrent_property_sets_keep_every_key(tmp_path):
    from duckdb_iceberg_spark.sources.ddl import set_table_properties

    loc = str(tmp_path / "t")
    create_table(loc, _schema(), properties=FAST_RETRY)

    _race(8, lambda i: set_table_properties(loc, {f"k{i}": "v"}))

    props = load_table_metadata(loc).properties
    assert {k for k in props if k.startswith("k")} == {
        f"k{i}" for i in range(8)}
    _no_temp_files(loc)


def test_concurrent_write_iceberg_appends(spark, tmp_path):
    """6 threads each append 10 rows to a 10-row table: every
    row and every snapshot survives."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg

    loc = str(tmp_path / "t")
    write_iceberg(spark.range(10), loc, properties=FAST_RETRY)

    _race(6, lambda i: write_iceberg(
        spark.range(100 * (i + 1), 100 * (i + 1) + 10), loc, mode="append"))

    assert iceberg_scan(spark, loc).count() == 70
    assert len(load_table_metadata(loc).snapshots) == 7
    _no_temp_files(loc)


def _seed(tmp_path) -> str:
    loc = str(tmp_path / "t")
    create_table(loc, _schema(), properties=FAST_RETRY)
    commit_snapshot(load_table_metadata(loc), operation="append",
                    new_data_files=[_data_file(loc, "a")])
    return loc


def test_delete_racing_an_append_is_rebuilt(tmp_path):
    loc = _seed(tmp_path)
    stale = FileTable(loc)
    commit_snapshot(load_table_metadata(loc), operation="append",
                    new_data_files=[_data_file(loc, "b")])

    commit_snapshot(stale.metadata, operation="delete",
                    new_delete_files=[_pos_delete(loc, "a")],
                    commit_fn=committer(stale, "delete"))

    tm = load_table_metadata(loc)
    assert [s.operation for s in tm.snapshots] == [
        "append", "append", "delete"]
    assert stale.metadata.current_snapshot_id == tm.current_snapshot_id
    tasks = plan_scan(tm, tm.current_snapshot()).tasks
    assert {os.path.basename(t.data_file.file_path) for t in tasks} == {
        "a.parquet", "b.parquet"}
    assert sum(len(t.positional_deletes) for t in tasks) == 2
    _no_temp_files(loc)


def test_branch_commit_keeps_ref_retention(tmp_path):
    """A snapshot committed onto a branch moves its head and keeps the
    retention fields the branch was created with."""
    from duckdb_iceberg_spark.sources import ddl

    loc = _seed(tmp_path)
    ddl.create_branch(loc, "audit", max_ref_age_ms=86_400_000,
                      min_snapshots_to_keep=3)
    commit_snapshot(load_table_metadata(loc), operation="append",
                    new_data_files=[_data_file(loc, "b")], branch="audit")
    tm = load_table_metadata(loc)
    ref = tm.refs["audit"]
    assert ref["snapshot-id"] != tm.current_snapshot_id
    assert (ref["max-ref-age-ms"], ref["min-snapshots-to-keep"]) == (
        86_400_000, 3)


def test_delete_racing_a_delete_raises_conflict(tmp_path):
    loc = _seed(tmp_path)
    stale = FileTable(loc)
    commit_snapshot(load_table_metadata(loc), operation="delete",
                    new_delete_files=[_pos_delete(loc, "first")])

    with pytest.raises(CommitConflict):
        commit_snapshot(stale.metadata, operation="delete",
                        new_delete_files=[_pos_delete(loc, "second")],
                        commit_fn=committer(stale, "delete"))

    tm = load_table_metadata(loc)
    assert [s.operation for s in tm.snapshots] == ["append", "delete"]
    _no_temp_files(loc)


def test_lagging_version_hint_keeps_the_newest_commit(tmp_path):
    """A writer that died after creating v{N+1} but before swapping the
    hint must not make the next commit overwrite that version."""
    loc = _seed(tmp_path)  # v1 create, v2 append
    hint = os.path.join(loc, "metadata", "version-hint.text")
    with open(hint, "w") as fh:
        fh.write("1")

    tm = load_table_metadata(loc)
    assert tm.metadata_location.endswith("v2.metadata.json")
    commit_snapshot(tm, operation="append",
                    new_data_files=[_data_file(loc, "b")])
    tm = load_table_metadata(loc)
    assert len(tm.snapshots) == 2
    assert tm.metadata_location.endswith("v3.metadata.json")


def test_create_table_refuses_an_existing_table(tmp_path):
    loc = _seed(tmp_path)
    before = load_table_metadata(loc)
    with pytest.raises(FileExistsError):
        create_table(loc, _schema())
    after = load_table_metadata(loc)
    assert after.table_uuid == before.table_uuid
    assert len(after.snapshots) == 1
    _no_temp_files(loc)


def test_write_table_metadata_is_an_exclusive_create(tmp_path):
    loc = _seed(tmp_path)
    tm = load_table_metadata(os.path.join(loc, "metadata", "v1.metadata.json"))
    with pytest.raises(FileExistsError):
        write_table_metadata(tm, loc)
    assert tm.metadata_location.endswith("v1.metadata.json")
    assert load_table_metadata(loc).current_snapshot() is not None
    _no_temp_files(loc)


def test_write_iceberg_losing_the_create_race_appends(spark, tmp_path,
                                                     monkeypatch):
    """The existence probe saw no table, but another writer created it
    before this create: the rows land in the winner's table."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.sources import writer

    loc = str(tmp_path / "t")
    write_iceberg(spark.range(5), loc)
    uuid = load_table_metadata(loc).table_uuid
    monkeypatch.setattr(writer, "current_version_number", lambda _loc: 0)

    write_iceberg(spark.range(5, 8), loc)

    tm = load_table_metadata(loc)
    assert tm.table_uuid == uuid
    assert len(tm.snapshots) == 2
    assert iceberg_scan(spark, loc).count() == 8


def test_add_files_losing_the_create_race_appends(spark, tmp_path,
                                                  monkeypatch):
    from duckdb_iceberg_spark import iceberg_scan
    from duckdb_iceberg_spark.sources import add_files as af

    src = str(tmp_path / "src")
    spark.range(4).write.parquet(src + "/a")
    spark.range(4, 6).write.parquet(src + "/b")
    loc = str(tmp_path / "t")
    af.add_files(spark, loc, src + "/a")
    uuid = load_table_metadata(loc).table_uuid
    monkeypatch.setattr(af, "current_version_number", lambda _loc: 0)

    af.add_files(spark, loc, src + "/b")

    tm = load_table_metadata(loc)
    assert tm.table_uuid == uuid
    assert len(tm.snapshots) == 2
    assert iceberg_scan(spark, loc).count() == 6


# -- apply_updates: what the filesystem branches used to do by hand -------

def _tm() -> TableMetadata:
    return TableMetadata({
        "format-version": 2, "table-uuid": "u", "location": "/t",
        "last-sequence-number": 1, "current-snapshot-id": 1,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": []}],
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "snapshots": [{"snapshot-id": 1, "sequence-number": 1,
                       "timestamp-ms": 10, "manifest-list": "ml1"}],
        "snapshot-log": [{"timestamp-ms": 10, "snapshot-id": 1}],
        "refs": {"main": {"snapshot-id": 1, "type": "branch"}},
        "statistics": [{"snapshot-id": 1, "statistics-path": "s1"}],
    })


def test_apply_updates_main_ref_moves_current_and_logs():
    tm = _tm()
    new = apply_updates(tm, [
        {"action": "add-snapshot", "snapshot": {
            "snapshot-id": 2, "sequence-number": 2, "timestamp-ms": 20,
            "manifest-list": "ml2", "parent-snapshot-id": 1}},
        {"action": "set-snapshot-ref", "ref-name": "main",
         "type": "branch", "snapshot-id": 2},
    ])
    assert new.current_snapshot_id == 2
    assert new.last_sequence_number == 2
    assert new.snapshot_log[-1] == {"timestamp-ms": 20, "snapshot-id": 2}
    # the input is untouched
    assert tm.current_snapshot_id == 1 and len(tm.snapshots) == 1
    assert len(tm.snapshot_log) == 1


def test_apply_updates_remove_snapshots_prunes_log_and_stats():
    new = apply_updates(_tm(), [
        {"action": "remove-snapshots", "snapshot-ids": [1]}])
    assert new.snapshots == [] and new.snapshot_log == []
    assert new.raw["statistics"] == []


def test_apply_updates_add_spec_advances_last_partition_id():
    new = apply_updates(_tm(), [
        {"action": "add-spec", "spec": {"spec-id": 1, "fields": [
            {"source-id": 1, "field-id": 1000, "name": "x",
             "transform": "identity"}]}},
        {"action": "set-default-spec", "spec-id": 1},
    ])
    assert new.default_spec_id == 1
    assert new.last_partition_id == 1000


def test_apply_updates_rejects_unknown_actions():
    with pytest.raises(ValueError, match="unsupported table update"):
        apply_updates(_tm(), [{"action": "set-location", "location": "x"}])
