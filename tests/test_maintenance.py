"""iceberg_rewrite_data_files tests (reference:
rewrite_data_files_planner.cpp grouping; REPLACE-snapshot commit)."""

import pytest

from duckdb_iceberg_spark import iceberg_scan, write_iceberg
from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
from duckdb_iceberg_spark.plans.scan_plan import plan_scan
from duckdb_iceberg_spark.sources.maintenance import rewrite_data_files


def _file_count(loc):
    tm = load_table_metadata(loc)
    return len(plan_scan(tm, tm.select_snapshot()).tasks)


def test_binpack_compacts_small_files(spark, tmp_path):
    loc = str(tmp_path / "t")
    for i in range(4):
        write_iceberg(
            spark.range(i * 100, (i + 1) * 100).selectExpr("id", "id * 2 AS v")
            .repartition(2), loc)
    before = _file_count(loc)
    assert before >= 8

    res = rewrite_data_files(spark, loc, min_input_files=2)
    assert res["rewritten_data_files_count"] == before
    assert res["added_data_files_count"] < before

    after = _file_count(loc)
    assert after == res["added_data_files_count"]
    tm = load_table_metadata(loc)
    assert tm.current_snapshot().summary["operation"] == "replace"
    got = sorted(r.id for r in iceberg_scan(spark, loc).collect())
    assert got == list(range(400))


def test_min_input_files_respected(spark, tmp_path):
    loc = str(tmp_path / "t2")
    write_iceberg(spark.range(100).coalesce(1), loc)
    write_iceberg(spark.range(100, 200).coalesce(1), loc)
    res = rewrite_data_files(spark, loc, min_input_files=5)
    assert res["group_count"] == 0 and res["rewritten_data_files_count"] == 0
    assert _file_count(loc) == 2  # untouched, no new snapshot


def test_partitioned_rewrite_keeps_partitions(spark, tmp_path):
    loc = str(tmp_path / "t3")
    df = spark.range(300).selectExpr("id", "CAST(id % 3 AS INT) AS bucket")
    for _ in range(3):
        write_iceberg(df, loc, partition_by=["bucket"])
    res = rewrite_data_files(spark, loc, min_input_files=2)
    assert res["group_count"] == 3  # one group per partition value
    tm = load_table_metadata(loc)
    tasks = plan_scan(tm, tm.select_snapshot()).tasks
    parts = {t.data_file.partition.get("bucket") for t in tasks}
    assert parts == {0, 1, 2}
    got = sorted(r.id for r in iceberg_scan(spark, loc).collect())
    assert got == sorted(list(range(300)) * 3)


def test_rewrite_materializes_deletion_vectors(spark, tmp_path):
    from duckdb_iceberg_spark.sources.dml import delete_from

    loc = str(tmp_path / "t4")
    write_iceberg(spark.range(1000).selectExpr("id", "id % 10 AS k").repartition(3),
                  loc, format_version=3)
    delete_from(spark, loc, "k = 4", mode="merge-on-read")

    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot())
    assert any(t.positional_deletes for t in plan.tasks)

    rewrite_data_files(spark, loc, rewrite_all=True)
    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot())
    assert not any(t.positional_deletes for t in plan.tasks), \
        "compaction must drop materialized deletion vectors"
    got = sorted(r.id for r in iceberg_scan(spark, loc).collect())
    assert got == [i for i in range(1000) if i % 10 != 4]


def test_rewrite_all_single_file(spark, tmp_path):
    loc = str(tmp_path / "t5")
    write_iceberg(spark.range(50).coalesce(1), loc)
    res = rewrite_data_files(spark, loc, rewrite_all=True)
    assert res["rewritten_data_files_count"] == 1
    assert _file_count(loc) == 1
    got = sorted(r.id for r in iceberg_scan(spark, loc).collect())
    assert got == list(range(50))


def test_bad_options(spark, tmp_path):
    loc = str(tmp_path / "t6")
    write_iceberg(spark.range(10), loc)
    with pytest.raises(ValueError):
        rewrite_data_files(spark, loc, min_input_files=0)
    with pytest.raises(ValueError):
        rewrite_data_files(spark, loc, target_file_size_bytes=10)


def test_expire_snapshots_retains_and_deletes(spark, tmp_path):
    """Expired snapshots leave the metadata; files only they referenced are
    removed from disk; retained snapshots still scan."""
    import os

    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.sources.maintenance import (
        expire_snapshots,
        rewrite_data_files,
    )

    loc = str(tmp_path / "t")
    write_iceberg(spark.range(0, 10).selectExpr("id"), loc)
    write_iceberg(spark.range(10, 20).selectExpr("id"), loc)
    rewrite_data_files(spark, loc, rewrite_all=True)  # old files now unreachable
    assert len(load_table_metadata(loc).snapshots) == 3

    before = sum(len(fs) for _, _, fs in os.walk(os.path.join(loc, "data")))
    out = expire_snapshots(loc, retain_last=1)
    assert out["expired"] == 2
    assert out["deleted_files"] > 0

    tm = load_table_metadata(loc)
    assert len(tm.snapshots) == 1
    got = sorted(r.id for r in iceberg_scan(spark, loc).collect())
    assert got == list(range(20))
    after = sum(len(fs) for _, _, fs in os.walk(os.path.join(loc, "data")))
    assert after < before


def test_expire_snapshots_respects_retain_last(spark, tmp_path):
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.sources.maintenance import expire_snapshots
    from duckdb_iceberg_spark.sources.writer import write_iceberg

    loc = str(tmp_path / "t")
    for lo in range(0, 30, 10):
        write_iceberg(spark.range(lo, lo + 10).selectExpr("id"), loc)
    out = expire_snapshots(loc, retain_last=2)
    assert out["expired"] == 1
    assert len(load_table_metadata(loc).snapshots) == 2
    # time travel to the older retained snapshot still works
    from duckdb_iceberg_spark import iceberg_scan

    tm = load_table_metadata(loc)
    older = min(tm.snapshots, key=lambda s: s.timestamp_ms)
    got = iceberg_scan(spark, loc, snapshot_id=older.snapshot_id).count()
    assert got == 20


def test_remove_orphan_files(spark, tmp_path):
    import os

    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.sources.maintenance import remove_orphan_files

    loc = str(tmp_path / "t")
    write_iceberg(spark.range(0, 10).selectExpr("id"), loc)
    orphan = os.path.join(loc, "data", "stray-aborted-write.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")

    # default retention (3 days) protects a fresh file — it may belong to an
    # in-flight uncommitted write
    assert remove_orphan_files(loc, dry_run=True) == []
    listed = remove_orphan_files(loc, dry_run=True, older_than_ms=0)
    assert listed == [orphan] and os.path.exists(orphan)
    removed = remove_orphan_files(loc, older_than_ms=0)
    assert removed == [orphan] and not os.path.exists(orphan)
    assert iceberg_scan(spark, loc).count() == 10


def test_expire_keeps_ref_pinned_snapshots(spark, sf_dir, tmp_path):
    """A snapshot pinned by a tag survives expiration even when older than
    the cutoff; its files remain readable through the ref."""
    from tests.conftest import load
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.sources.ddl import create_tag
    from duckdb_iceberg_spark.sources.maintenance import expire_snapshots

    src = load(spark, sf_dir, "nation")
    loc = str(tmp_path / "t")
    write_iceberg(src.where("n_nationkey < 10"), loc)
    create_tag(loc, "keepme")
    write_iceberg(src.where("n_nationkey >= 10"), loc)
    write_iceberg(src.limit(0), loc, mode="append")  # another snapshot

    res = expire_snapshots(loc, older_than_ms=int(1e18), retain_last=1)
    # the tagged snapshot must survive and stay scannable
    assert iceberg_scan(spark, loc, ref="keepme").count() == 10
    assert iceberg_scan(spark, loc).count() == src.count()


def test_expire_branch_retention_keeps_ancestors(spark, tmp_path):
    """r13 (VERDICT task 6): a branch's min-snapshots-to-keep /
    max-snapshot-age-ms retention protects its ancestor chain from
    expiry; without the knobs only the head survives (r12 behavior)."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.sources.ddl import create_branch
    from duckdb_iceberg_spark.sources.maintenance import expire_snapshots

    loc = str(tmp_path / "t_ret")
    for lo in range(0, 40, 10):
        write_iceberg(spark.range(lo, lo + 10).selectExpr("id"), loc)
    snaps = sorted(load_table_metadata(loc).snapshots,
                   key=lambda s: s.timestamp_ms)
    assert len(snaps) == 4
    # branch at snapshot 3 (head) keeps 3 ancestors: snapshots 1-3 survive
    create_branch(loc, "hist", snaps[2].snapshot_id,
                  min_snapshots_to_keep=3)
    out = expire_snapshots(loc, retain_last=1)
    tm = load_table_metadata(loc)
    kept = {s.snapshot_id for s in tm.snapshots}
    # head-of-main (retain_last=1) + the branch's 3-ancestor chain
    assert kept == {s.snapshot_id for s in snaps}
    assert out["expired"] == 0
    # time travel inside the protected chain still works
    assert iceberg_scan(
        spark, loc, snapshot_id=snaps[0].snapshot_id).count() == 10

    # max-snapshot-age-ms = 0: every ancestor is older than the cutoff,
    # so only the head + min default (none set => head only) survives
    create_branch(loc, "tight", snaps[2].snapshot_id,
                  max_snapshot_age_ms=0)
    tm = load_table_metadata(loc)
    tm.refs.pop("hist")
    from duckdb_iceberg_spark.metadata.table_metadata import write_table_metadata
    write_table_metadata(tm, loc)
    out = expire_snapshots(loc, retain_last=1)
    kept = {s.snapshot_id for s in load_table_metadata(loc).snapshots}
    assert kept == {snaps[2].snapshot_id, snaps[3].snapshot_id}
    assert out["expired"] == 2


def test_expire_drops_aged_out_refs(spark, tmp_path):
    """r13: a non-main ref whose max-ref-age-ms is exceeded (age measured
    from its snapshot's commit time) is dropped by expire_snapshots, and
    snapshots it alone pinned expire with it. Table-level
    history.expire.max-ref-age-ms is the default; a ref-level field
    overrides."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.sources.ddl import (
        create_branch,
        create_tag,
        set_table_properties,
    )
    from duckdb_iceberg_spark.sources.maintenance import expire_snapshots

    loc = str(tmp_path / "t_refage")
    write_iceberg(spark.range(0, 10).selectExpr("id"), loc)
    write_iceberg(spark.range(10, 20).selectExpr("id"), loc)
    snaps = sorted(load_table_metadata(loc).snapshots,
                   key=lambda s: s.timestamp_ms)
    create_tag(loc, "old_tag", snaps[0].snapshot_id, max_ref_age_ms=0)
    create_branch(loc, "fresh", snaps[1].snapshot_id,
                  max_ref_age_ms=10**12)  # effectively forever

    out = expire_snapshots(loc, retain_last=1)
    assert out["dropped_refs"] == ["old_tag"]
    assert out["expired"] == 1  # the snapshot old_tag alone pinned
    tm = load_table_metadata(loc)
    assert "old_tag" not in tm.refs and "fresh" in tm.refs

    # table-level default applies to refs without their own field —
    # 'fresh' has one (forever), so it survives a 0-default; a new
    # field-less tag does not
    create_tag(loc, "field_less", snaps[1].snapshot_id)
    set_table_properties(loc, {"history.expire.max-ref-age-ms": "0"})
    out = expire_snapshots(loc, retain_last=1)
    assert out["dropped_refs"] == ["field_less"]
    assert "fresh" in load_table_metadata(loc).refs


def test_rewrite_manifests_consolidates(spark, sf_dir, tmp_path):
    """Three appends → three data manifests; rewrite_manifests collapses
    them into one while every row and MoR delete stays intact."""
    from tests.conftest import load
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata import manifest as mf
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.sources.dml import delete_from
    from duckdb_iceberg_spark.sources.maintenance import rewrite_manifests

    src = load(spark, sf_dir, "nation")
    loc = str(tmp_path / "t")
    write_iceberg(src.where("n_nationkey < 8"), loc)
    write_iceberg(src.where("n_nationkey >= 8 AND n_nationkey < 16"), loc)
    write_iceberg(src.where("n_nationkey >= 16"), loc)
    delete_from(spark, loc, "n_nationkey = 3", mode="merge-on-read")

    tm = load_table_metadata(loc)
    before = mf.read_manifest_list(tm.current_snapshot().manifest_list)
    assert len([m for m in before if m.content == mf.MANIFEST_DATA]) == 3

    res = rewrite_manifests(loc)
    assert res["rewritten_manifests"] == len(before)

    tm2 = load_table_metadata(loc)
    after = mf.read_manifest_list(tm2.current_snapshot().manifest_list)
    assert len([m for m in after if m.content == mf.MANIFEST_DATA]) == 1
    assert len([m for m in after if m.content == mf.MANIFEST_DELETES]) == 1

    got = sorted(r.n_nationkey for r in iceberg_scan(spark, loc).collect())
    assert got == sorted(r.n_nationkey for r in src.collect() if r.n_nationkey != 3)


def test_rewrite_manifests_preserves_v3_row_lineage(spark, tmp_path):
    """Consolidating manifests must materialize inherited first-row-ids
    before entries detach from their source manifests — _row_id values are
    identical before and after the rewrite."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.sources.ddl import upgrade_format_version
    from duckdb_iceberg_spark.sources.maintenance import rewrite_manifests

    loc = str(tmp_path / "t")
    # v2 -> v3 upgrade: the carried manifest's entries have NO explicit
    # per-file first_row_id — they depend on manifest-level inheritance,
    # exactly what a consolidation must materialize before detaching
    write_iceberg(spark.range(0, 10).selectExpr("id", "id * 1.0 AS v")
                  .coalesce(1), loc, format_version=2)
    upgrade_format_version(loc, 3)
    write_iceberg(spark.range(10, 25).selectExpr("id", "id * 1.0 AS v")
                  .coalesce(1), loc)
    before = {r.id: r._row_id for r in iceberg_scan(
        spark, loc, with_row_lineage=True).collect()}
    out = rewrite_manifests(loc, min_input_manifests=2)
    assert out["rewritten_manifests"] == 2 and out["new_manifests"] == 1
    after = {r.id: r._row_id for r in iceberg_scan(
        spark, loc, with_row_lineage=True).collect()}
    assert after == before
    assert sorted(after.values()) == list(range(25))


def test_rewrite_manifests_distributes_above_threshold(spark, tmp_path):
    """Above the 64-manifest threshold, rewrite_manifests fans the Avro
    parses out to executors (the distributed_planner pattern) instead of a
    driver-serial loop — a 100k-manifest consolidation must not serialize
    reads on the driver. Results identical to the driver path: same single
    output manifest, same rows."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata import manifest as mf
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.sources.maintenance import rewrite_manifests

    loc = str(tmp_path / "t")
    write_iceberg(spark.range(500).selectExpr("id", "id * 2 AS v")
                  .repartition(70), loc)  # round-robin: 70 non-empty files
    # explode into one manifest per entry (driver path: below threshold at
    # input — 1 source manifest)
    out = rewrite_manifests(loc, target_entries_per_manifest=1,
                            min_input_manifests=1)
    n = out["new_manifests"]
    assert n > 64  # above the distribution threshold
    assert out["distributed_manifest_reads"] == 0  # 1 input manifest: driver

    # consolidate the small manifests back: above the threshold, reads
    # fan out to executors
    out = rewrite_manifests(loc)
    assert out["rewritten_manifests"] == n and out["new_manifests"] == 1
    assert out["distributed_manifest_reads"] == n

    tm = load_table_metadata(loc)
    after = mf.read_manifest_list(tm.current_snapshot().manifest_list)
    assert len(after) == 1
    got = sorted((r.id, r.v) for r in iceberg_scan(spark, loc).collect())
    assert got == [(i, 2 * i) for i in range(500)]


def test_auto_manifest_merge_on_append(spark, tmp_path):
    """commit.manifest.min-count-to-merge=2: the third append's commit
    bin-packs the two carried manifests into one replacement and appends
    its own — the manifest list ends with exactly 2 manifests, BOTH
    stamped with the latest snapshot id (mirror of the reference's
    test_merge_append.test, incl. its added_snapshot_id assertions)."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata import manifest as mf
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata

    loc = str(tmp_path / "t")
    props = {"commit.manifest.min-count-to-merge": "2",
             "commit.manifest.target-size-bytes": "8388608"}
    write_iceberg(spark.createDataFrame([(1, "a"), (2, "b")],
                                        "id int, data string"), loc,
                  properties=props)
    write_iceberg(spark.createDataFrame([(3, "c"), (4, "d")],
                                        "id int, data string"), loc)
    write_iceberg(spark.createDataFrame([(5, "e"), (6, "f")],
                                        "id int, data string"), loc)

    tm = load_table_metadata(loc)
    snap = tm.current_snapshot()
    ml = mf.read_manifest_list(snap.manifest_list)
    assert len(ml) == 2
    assert all(m.added_snapshot_id == snap.snapshot_id for m in ml)
    got = sorted((r.id, r.data) for r in iceberg_scan(spark, loc).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e"), (6, "f")]

    # default min-count (100) never fires at this scale: three appends on
    # an untuned table keep three manifests
    loc2 = str(tmp_path / "t2")
    for lo in (0, 2, 4):
        write_iceberg(spark.range(lo, lo + 2).selectExpr("id"), loc2)
    tm2 = load_table_metadata(loc2)
    assert len(mf.read_manifest_list(tm2.current_snapshot().manifest_list)) == 3


def test_auto_manifest_merge_preserves_v3_row_lineage(spark, tmp_path):
    """Merging carried manifests is a pure physical repack: v3 _row_id
    values are identical before and after the merge commit (mirror of
    test_merge_append_v3_row_lineage.test)."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata import manifest as mf
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata

    loc = str(tmp_path / "t")
    props = {"commit.manifest.min-count-to-merge": "2",
             "commit.manifest.target-size-bytes": "8388608"}
    write_iceberg(spark.range(0, 4).selectExpr("id").coalesce(1), loc,
                  properties=props, format_version=3)
    write_iceberg(spark.range(4, 7).selectExpr("id").coalesce(1), loc)
    before = {r.id: r._row_id for r in iceberg_scan(
        spark, loc, with_row_lineage=True).collect()}
    write_iceberg(spark.range(7, 9).selectExpr("id").coalesce(1), loc)

    tm = load_table_metadata(loc)
    snap = tm.current_snapshot()
    ml = mf.read_manifest_list(snap.manifest_list)
    assert len(ml) == 2  # merged carry + this append's manifest
    after = {r.id: r._row_id for r in iceberg_scan(
        spark, loc, with_row_lineage=True).collect()}
    assert {k: after[k] for k in before} == before
    assert sorted(after.values()) == list(range(9))


def test_rewrite_pins_data_sequence_number(spark, tmp_path):
    """Rewritten data files keep the max input data sequence number while
    file_sequence_number advances to the replace commit's (reference:
    maintenance/rewrite_data_files_sequence_pin.test) — so equality
    deletes sequenced after the inputs keep applying to compacted rows."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from duckdb_iceberg_spark.sources.dml import equality_delete
    from duckdb_iceberg_spark.sources.maintenance import rewrite_data_files

    loc = str(tmp_path / "seq_pin")
    for batch in range(6):
        df = spark.createDataFrame(
            [(batch * 2 + 1, chr(97 + batch * 2)),
             (batch * 2 + 2, chr(98 + batch * 2))], "id int, payload string")
        write_iceberg(df, loc)

    tm = load_table_metadata(loc)
    starting_seq = max(int(t.sequence_number or 0)
                       for t in plan_scan(tm, tm.select_snapshot(), None).tasks)

    res = rewrite_data_files(spark, loc, rewrite_all=True)
    assert res["rewritten_data_files_count"] >= 6

    tm = load_table_metadata(loc)
    tasks = plan_scan(tm, tm.select_snapshot(), None).tasks
    assert len(tasks) == 1
    assert int(tasks[0].sequence_number) == starting_seq
    # a later equality delete still applies to the compacted file
    equality_delete(spark, loc, spark.createDataFrame([(3,)], "id int"), ["id"])
    assert iceberg_scan(spark, loc).count() == 11


def test_rewrite_rotates_oversized_file(spark, tmp_path):
    """A file larger than the target splits into multiple output files
    (reference: maintenance/rewrite_data_files_file_size_rotation.test —
    one ~20 MB file, 1 MB target, rewrite_all => more than one output)."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from duckdb_iceberg_spark.sources.maintenance import (
        MIN_TARGET_FILE_SIZE_BYTES, rewrite_data_files)

    loc = str(tmp_path / "rotation")
    df = spark.range(500000).selectExpr(
        "CAST(id AS INT) AS id", "concat('thisisalongstring', id) AS payload")
    write_iceberg(df.coalesce(1), loc)
    tm = load_table_metadata(loc)
    assert len(plan_scan(tm, tm.select_snapshot(), None).tasks) == 1

    res = rewrite_data_files(
        spark, loc, target_file_size_bytes=1048576,
        min_input_files=1, rewrite_all=True)
    assert res["added_data_files_count"] > 1
    tm = load_table_metadata(loc)
    assert len(plan_scan(tm, tm.select_snapshot(), None).tasks) > 1
    assert iceberg_scan(spark, loc).count() == 500000


def test_snapshot_properties_land_in_maintenance_commit_summaries(
        spark, tmp_path):
    """VERDICT r10 task 6: custom snapshot summary properties flow through
    both maintenance commits — the keys must land in the committed
    snapshot's summary JSON on disk (not just the in-memory object), and
    expire_snapshots must leave retained summaries verbatim (expiry
    itself commits no snapshot, so it carries no properties — the same
    surface as Iceberg's own procedure)."""
    import json
    import os

    from duckdb_iceberg_spark.sources.maintenance import (
        expire_snapshots,
        rewrite_manifests,
    )

    loc = str(tmp_path / "t_props")
    for i in range(3):
        write_iceberg(spark.range(i * 10, (i + 1) * 10).coalesce(1), loc)

    props = {"compaction-job-id": "job-42", "trigger": "scheduled"}
    res = rewrite_data_files(spark, loc, min_input_files=2,
                             snapshot_properties=props)
    tm = load_table_metadata(loc)
    snap = tm.current_snapshot()
    assert snap.snapshot_id == res["snapshot_id"]
    for k, v in props.items():
        assert snap.summary.get(k) == v
    # ... and in the serialized metadata JSON, not just the object
    meta_dir = os.path.join(loc, "metadata")
    latest = sorted(f for f in os.listdir(meta_dir)
                    if f.endswith(".metadata.json"))[-1]
    with open(os.path.join(meta_dir, latest)) as fh:
        doc = json.load(fh)
    on_disk = {s["snapshot-id"]: s.get("summary", {})
               for s in doc["snapshots"]}
    assert on_disk[snap.snapshot_id]["compaction-job-id"] == "job-42"

    mprops = {"manifest-rewrite-job": "mjob-7"}
    rewrite_manifests(loc, min_input_manifests=1, snapshot_properties=mprops)
    tm = load_table_metadata(loc)
    assert tm.current_snapshot().summary.get("manifest-rewrite-job") == "mjob-7"

    # expiry retains the custom summaries of surviving snapshots verbatim
    expire_snapshots(loc, retain_last=2)
    tm = load_table_metadata(loc)
    summaries = [s.summary for s in tm.snapshots]
    assert any(s.get("compaction-job-id") == "job-42" for s in summaries)
    assert any(s.get("manifest-rewrite-job") == "mjob-7" for s in summaries)


def test_rewrite_position_deletes_merges_stacked_files(spark, tmp_path):
    """r12: three stacked MoR deletes leave 3 delete files per data file;
    the rewrite merges them into ONE per referenced data file, results
    unchanged, delete row count deduplicated."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata import manifest as mf
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from duckdb_iceberg_spark.sources.dml import delete_from
    from duckdb_iceberg_spark.sources.maintenance import (
        rewrite_position_delete_files,
    )

    loc = str(tmp_path / "t_posdel")
    df = spark.range(0, 300).selectExpr("id", "id % 3 AS k")
    write_iceberg(df, loc)
    for pred in ("id < 30", "id >= 270", "id % 50 = 7"):
        delete_from(spark, loc, pred, mode="merge-on-read")

    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot())
    stacks = [len(t.positional_deletes) for t in plan.tasks
              if t.positional_deletes]
    assert stacks and max(stacks) >= 2, "fixture must stack delete files"
    want = sorted(r.id for r in iceberg_scan(spark, loc).collect())

    out = rewrite_position_delete_files(spark, loc)
    assert out["rewritten_delete_files_count"] >= 2
    assert out["added_delete_files_count"] >= 1
    assert out["removed_dangling_rows_count"] == 0

    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot())
    for t in plan.tasks:
        assert len(t.positional_deletes) <= 1, "one delete file per data file"
    assert sorted(r.id for r in iceberg_scan(spark, loc).collect()) == want
    # idempotent: a second run finds nothing to do and commits nothing
    snap_id = tm.current_snapshot().snapshot_id
    again = rewrite_position_delete_files(spark, loc)
    assert again["rewritten_delete_files_count"] == 0
    assert load_table_metadata(loc).current_snapshot().snapshot_id == snap_id


def test_rewrite_position_deletes_drops_dangling(spark, tmp_path):
    """Dangling delete rows (their data file compacted away) are removed;
    scan results unchanged before/after."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from duckdb_iceberg_spark.sources.dml import delete_from
    from duckdb_iceberg_spark.sources.maintenance import (
        rewrite_data_files,
        rewrite_position_delete_files,
    )

    loc = str(tmp_path / "t_dangling")
    # many small appends → small files eligible for compaction
    for i in range(4):
        write_iceberg(spark.range(i * 50, (i + 1) * 50).selectExpr("id"),
                      loc)
    delete_from(spark, loc, "id % 10 = 3", mode="merge-on-read")
    want = sorted(r.id for r in iceberg_scan(spark, loc).collect())

    # compaction materializes the deletes and replaces the data files —
    # but keeps the (now-dangling) delete files out of its removal set?
    # rewrite_data_files drops deletes referencing rewritten files, so
    # craft dangling differently: compact only SOME files via rewrite_all
    # on a table where one more delete lands after compaction.
    rewrite_data_files(spark, loc, rewrite_all=True)
    delete_from(spark, loc, "id % 25 = 4", mode="merge-on-read")
    want2 = sorted(r.id for r in iceberg_scan(spark, loc).collect())

    out = rewrite_position_delete_files(spark, loc, rewrite_all=True)
    assert sorted(r.id for r in iceberg_scan(spark, loc).collect()) == want2
    assert out["rewritten_delete_files_count"] >= 1


def test_rewrite_position_deletes_converts_to_dv_on_v3(spark, tmp_path):
    """On a v3 table carrying leftover parquet positional deletes (v2
    history upgraded), the rewrite converts them into Puffin DVs."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from duckdb_iceberg_spark.sources.ddl import upgrade_format_version
    from duckdb_iceberg_spark.sources.dml import delete_from
    from duckdb_iceberg_spark.sources.maintenance import (
        rewrite_position_delete_files,
    )

    loc = str(tmp_path / "t_v2_to_v3")
    write_iceberg(spark.range(0, 200).selectExpr("id"), loc)  # v2
    delete_from(spark, loc, "id % 4 = 1", mode="merge-on-read")
    want = sorted(r.id for r in iceberg_scan(spark, loc).collect())

    upgrade_format_version(loc, 3)
    out = rewrite_position_delete_files(spark, loc, rewrite_all=True)
    assert out["added_delete_files_count"] >= 1

    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot())
    dels = [d for t in plan.tasks for d in t.positional_deletes]
    assert dels and all((d.file_format or "").lower() == "puffin"
                        for d in dels), "parquet deletes must become DVs"
    assert sorted(r.id for r in iceberg_scan(spark, loc).collect()) == want


def test_rewrite_position_deletes_converts_equality(spark, sf_dir, tmp_path):
    """convert_equality=True materializes equality deletes as positional:
    scan results unchanged, equality-delete files gone, subsequent plans
    carry only per-file positional deletes."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata import manifest as mf
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from duckdb_iceberg_spark.sources.dml import delete_from, upsert_equality
    from duckdb_iceberg_spark.sources.maintenance import (
        rewrite_position_delete_files,
    )
    from pyspark.sql import functions as F

    from .conftest import load

    src = load(spark, sf_dir, "nation")
    loc = str(tmp_path / "t_eq_conv")
    write_iceberg(src, loc)
    # equality deletes via CDC upsert + a positional MoR delete on top
    upd = src.filter("n_nationkey <= 2").withColumn(
        "n_name", F.lit("updated"))
    upsert_equality(spark, loc, upd, key_columns=["n_nationkey"])
    delete_from(spark, loc, "n_nationkey >= 20", mode="merge-on-read")
    want = sorted((r.n_nationkey, r.n_name) for r in iceberg_scan(
        spark, loc).select("n_nationkey", "n_name").collect())

    out = rewrite_position_delete_files(spark, loc, convert_equality=True)
    assert out["converted_equality_files_count"] >= 1
    assert out["added_delete_files_count"] >= 1

    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot())
    eqs = [d for t in plan.tasks for _s, d in t.equality_deletes]
    assert not eqs, "equality-delete files must be gone"
    poss = [d for t in plan.tasks for d in t.positional_deletes]
    assert poss and all(d.referenced_data_file for d in poss)

    got = sorted((r.n_nationkey, r.n_name) for r in iceberg_scan(
        spark, loc).select("n_nationkey", "n_name").collect())
    assert got == want


def test_vacuum_combo(spark, tmp_path):
    """r12 vacuum = expire_snapshots + remove_orphan_files in one call,
    CALL-able; old snapshots gone, current scan intact."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.sources.maintenance import vacuum

    loc = str(tmp_path / "t_vacuum")
    write_iceberg(spark.range(0, 50).selectExpr("id"), loc)
    write_iceberg(spark.range(50, 80).selectExpr("id"), loc)
    write_iceberg(spark.range(80, 90).selectExpr("id"), loc)
    assert len(load_table_metadata(loc).snapshots) == 3

    out = vacuum(spark, loc, retain_last=1)
    assert any(k.startswith("expire") for k in out)
    # the orphan half of the report is surfaced explicitly (ADVICE r12)
    assert out["orphan_deleted_count"] == len(out["orphan_deleted_paths"])
    tm = load_table_metadata(loc)
    assert len(tm.snapshots) == 1
    assert sorted(r.id for r in iceberg_scan(spark, loc).collect()) == \
        list(range(90))


def test_vacuum_relative_age(spark, tmp_path):
    """ADVICE r12 (medium): vacuum's older_than_ms is a RELATIVE age,
    translated to an absolute cutoff for expire_snapshots — so one value
    drives BOTH halves. age=0 expires everything older than now (all
    non-retained snapshots); a huge age expires nothing."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.sources.maintenance import vacuum

    loc = str(tmp_path / "t_vacuum_age")
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        write_iceberg(spark.range(lo, hi).selectExpr("id"), loc)

    # retention age far larger than the table's life: nothing expires
    out = vacuum(spark, loc, older_than_ms=10**12, retain_last=1)
    assert out["expire_expired"] == 0
    assert len(load_table_metadata(loc).snapshots) == 3

    # age 0 => cutoff is "now": every non-retained snapshot is older
    out = vacuum(spark, loc, older_than_ms=0, retain_last=1)
    assert out["expire_expired"] == 2
    assert len(load_table_metadata(loc).snapshots) == 1


def test_orphan_scan_skips_a_removed_previous_metadata_file(tmp_path):
    """The orphan scan reads every previous metadata file for its data
    roots: one removed by expiry is skipped, a corrupt one raises."""
    import json
    import os

    from pyspark.sql import types as T

    from duckdb_iceberg_spark.sources.maintenance import remove_orphan_files

    from .test_bound_file_filter import _metadata_only_table

    loc = str(tmp_path / "t")
    tm = _metadata_only_table(
        loc, T.StructType([T.StructField("k", T.LongType())]), None,
        [({}, [({}, {})])])
    os.makedirs(os.path.join(loc, "data"))
    orphan = os.path.join(loc, "data", "stray.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"x")
    prev = tm.metadata_log[0]["metadata-file"]
    with open(prev, "w") as fh:
        fh.write("{not json")
    with pytest.raises(json.JSONDecodeError):
        remove_orphan_files(loc, dry_run=True, older_than_ms=0)
    os.remove(prev)
    assert remove_orphan_files(loc, dry_run=True, older_than_ms=0) == [orphan]
