"""Table maintenance: iceberg_rewrite_data_files (bin-pack compaction).

Reference parity:
- candidate selection + per-partition grouping:
  /root/reference/src/maintenance/rewrite_data_files_planner.cpp:25-95
  (files < target unless rewrite_all; groups need >= min_input_files)
- options & target-size resolution from table properties:
  /root/reference/src/function/metadata/iceberg_rewrite_data_files.cpp:29-90
- REPLACE-snapshot commit semantics: rewritten files removed, compacted
  files added, delete files referencing rewritten data dropped (the rewrite
  materializes merge-on-read deletes).

Spark shape: each group is read through the normal scan path (so DVs,
positional and equality deletes are applied), coalesced to
ceil(bytes/target) output tasks, and written with the table's partition
spec/sort order; one commit covers all groups."""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import SparkSession

from ..catalog.commit import committer, resolve_table
from ..metadata import manifest as mf
from ..metadata.table_metadata import TableMetadata
from ..plans.scan_plan import ScanPlan, plan_scan
from .scan import scan_to_dataframe
from .writer import _inherit_before_existing, commit_snapshot, write_data_files

DEFAULT_TARGET_FILE_SIZE_BYTES = 512 * 1024 * 1024
MIN_TARGET_FILE_SIZE_BYTES = 1024


def _parse_linear_order(sort_order: str) -> list:
    """``"c1 DESC, c2, c3 ASC NULLS LAST"`` → sort Column expressions.

    Honors ASC/DESC and NULLS FIRST/LAST (Spark defaults match Iceberg's
    sort-order defaults: ASC → nulls first, DESC → nulls last) and
    RAISES on anything unrecognized — silently clustering in a different
    order than the caller asked for would produce files whose bounds
    don't prune the way the sort key promises (ADVICE r14)."""
    from pyspark.sql import functions as F

    out = []
    for piece in sort_order.split(","):
        toks = piece.strip().split()
        if not toks:
            continue
        col, mods = toks[0], [t.upper() for t in toks[1:]]
        desc = False
        nulls: str | None = None
        i = 0
        while i < len(mods):
            if mods[i] in ("ASC", "DESC"):
                desc = mods[i] == "DESC"
                i += 1
            elif (mods[i] == "NULLS" and i + 1 < len(mods)
                  and mods[i + 1] in ("FIRST", "LAST")):
                nulls = mods[i + 1]
                i += 2
            else:
                raise ValueError(
                    f"unrecognized sort_order modifier {mods[i]!r} in "
                    f"{piece.strip()!r}: expected [ASC|DESC] "
                    "[NULLS FIRST|NULLS LAST]")
        c = F.col(col)
        if desc:
            c = (c.desc_nulls_first() if nulls == "FIRST"
                 else c.desc_nulls_last() if nulls == "LAST" else c.desc())
        else:
            c = (c.asc_nulls_first() if nulls == "FIRST"
                 else c.asc_nulls_last() if nulls == "LAST" else c.asc())
        out.append(c)
    return out


def _resolve_target_size(tm: TableMetadata, explicit: int | None) -> int:
    if explicit is not None:
        if explicit < MIN_TARGET_FILE_SIZE_BYTES:
            raise ValueError(
                f"target_file_size_bytes must be >= {MIN_TARGET_FILE_SIZE_BYTES}")
        return explicit
    from .writer import parse_byte_size

    for prop in ("write.parquet.target-file-size-bytes", "write.target-file-size-bytes"):
        if prop in tm.properties:
            return parse_byte_size(tm.properties[prop])
    return DEFAULT_TARGET_FILE_SIZE_BYTES


def _partition_key(partition: dict) -> tuple:
    return tuple(sorted((k, repr(v)) for k, v in (partition or {}).items()))


def rewrite_data_files(
    spark: SparkSession,
    location: str,
    *,
    target_file_size_bytes: int | None = None,
    min_input_files: int = 5,
    rewrite_all: bool = False,
    snapshot_properties: dict[str, str] | None = None,
    sort_order: str | None = None,
) -> dict[str, Any]:
    """Bin-pack small data files into ~target-size files, one REPLACE
    commit. ``location`` may be a path or a catalog ``RestTable`` (the
    REPLACE snapshot then commits through the catalog).

    r14 ``sort_order``: the Spark procedure's sort strategy —
    ``'zorder(c1, c2)'`` clusters rewritten files by Morton-interleaved
    quantile ranks (tight per-file bounds on EVERY zorder column, so
    scans prune on any dimension; see operators/zorder.py), and a plain
    ``'c1, c2'`` column list range-clusters linearly. The reference's
    compaction bin-packs only (iceberg_rewrite_data_files.cpp)."""
    if min_input_files < 1:
        raise ValueError("min_input_files must be >= 1")
    table = resolve_table(location)
    tm = table.metadata
    snapshot = tm.select_snapshot()
    plan = plan_scan(tm, snapshot, None)
    target = _resolve_target_size(tm, target_file_size_bytes)

    per_partition: dict[tuple, list] = {}
    for t in plan.tasks:
        if not rewrite_all and t.data_file.file_size_in_bytes >= target:
            continue
        per_partition.setdefault(_partition_key(t.data_file.partition), []).append(t)

    groups = [
        tasks for tasks in per_partition.values()
        if rewrite_all or len(tasks) >= min_input_files
    ]
    summary: dict[str, Any] = {
        "rewritten_data_files_count": 0,
        "added_data_files_count": 0,
        "rewritten_bytes_count": 0,
        "group_count": len(groups),
    }
    if not groups:
        return summary

    new_files: list[mf.DataFile] = []
    removed: set[str] = set()
    for tasks in groups:
        sub = ScanPlan(tm, snapshot, list(tasks), None, plan.schema_id)
        df = scan_to_dataframe(spark, sub)
        group_bytes = sum(t.data_file.file_size_in_bytes for t in tasks)
        n_out = max(1, math.ceil(group_bytes / target))
        # shrink without a shuffle; GROW needs repartition — coalesce never
        # increases partition count, so splitting one oversized file into
        # target-size pieces would silently produce one file (reference:
        # rewrite_data_files_file_size_rotation.test rotates a 20 MB file
        # into >1 files at a 1 MB target)
        if sort_order:
            # cluster this group's rows; rewrite groups are already
            # per-partition, so the write keeps our range partitioning
            # (preserve_partitioning) instead of re-shuffling every row
            # to the same partition tuple and undoing the clustering
            from ..operators.zorder import parse_zorder, zorder_cluster

            zcols = parse_zorder(sort_order)
            if zcols:
                df = zorder_cluster(df, zcols, num_partitions=n_out)
            else:
                lin = _parse_linear_order(sort_order)
                df = (df.repartitionByRange(max(1, n_out), *lin)
                      .sortWithinPartitions(*lin))
            files, _root = write_data_files(spark, df, tm,
                                            preserve_partitioning=True)
        else:
            cur = df.rdd.getNumPartitions()
            df = (df.coalesce(n_out) if n_out <= cur
                  else df.repartition(n_out))
            files, _root = write_data_files(spark, df, tm)
        new_files.extend(files)
        removed.update(t.data_file.file_path for t in tasks)
        summary["rewritten_data_files_count"] += len(tasks)
        summary["rewritten_bytes_count"] += group_bytes

    summary["added_data_files_count"] = len(new_files)
    extra = {"rewrite-target-file-size-bytes": str(target)}
    for k, v in (snapshot_properties or {}).items():
        extra[k] = v
    # rewritten files keep the max INPUT data sequence number (their
    # file_sequence_number is the replace commit's): equality deletes with
    # a later sequence keep applying to the compacted rows (reference:
    # rewrite_data_files_sequence_pin.test)
    pinned = max((int(t.sequence_number or 0)
                  for tasks in groups for t in tasks), default=None)
    snap = commit_snapshot(
        tm, operation="replace",
        new_data_files=new_files,
        removed_data_paths=removed,
        extra_summary=extra,
        commit_fn=committer(table, "replace"),
        pinned_data_sequence=pinned,
    )
    summary["snapshot_id"] = snap.snapshot_id
    return summary


# ---------------------------------------------------------------------------
# snapshot expiration & orphan cleanup (beyond-reference maintenance)
# ---------------------------------------------------------------------------

def _reachable_files(tm: TableMetadata, snapshots, *, strict: bool = False) -> tuple[set, set]:
    """(manifest-list/manifest paths, data/delete file paths) referenced by
    the given snapshots. ``strict`` raises instead of skipping when a
    referenced manifest can't be read — required when the result feeds a
    delete decision (one unreadable manifest must not silently classify all
    its live data files as orphans)."""
    from ..plans.scan_plan import _localize

    meta_paths: set[str] = set()
    data_paths: set[str] = set()
    for s in snapshots:
        if not s.manifest_list:
            continue
        ml = _localize(tm, s.manifest_list)
        meta_paths.add(ml)
        try:
            manifests = mf.read_manifest_list(ml)
        except FileNotFoundError:
            if strict:
                raise
            continue
        for m in manifests:
            mp = _localize(tm, m.manifest_path)
            meta_paths.add(mp)
            try:
                entries = mf.read_manifest(mp)
            except FileNotFoundError:
                if strict:
                    raise
                continue
            for e in entries:
                data_paths.add(_localize(tm, e.data_file.file_path))
    return meta_paths, data_paths


def expire_snapshots(
    location: str,
    *,
    older_than_ms: int | None = None,
    retain_last: int = 1,
    delete_files: bool = True,
) -> dict:
    """Expire snapshots (cf. Iceberg's ``expire_snapshots`` procedure —
    not in the reference, whose maintenance surface is compaction only):
    drops expired snapshots from table metadata, then deletes any
    manifest/data files no longer reachable from a retained snapshot.
    Expiry commits NO snapshot (it is a remove-snapshots metadata
    update), so there is no summary to carry custom properties — the
    same surface as Iceberg's own procedure; retained snapshots keep
    their summaries (incl. any custom snapshot_properties) verbatim.

    Honors the spec's per-reference retention (r13): a non-main ref older
    than its ``max-ref-age-ms`` is dropped in the same commit; surviving
    branches keep their head plus ``min-snapshots-to-keep`` ancestors plus
    ancestors younger than ``max-snapshot-age-ms`` (ref field > table
    ``history.expire.*`` property > keep-forever/head-only default, so
    tables without retention knobs behave as before).

    Returns {"expired": n, "deleted_files": n, "dropped_refs": [...]}.
    ``location`` may be a path or a catalog ``RestTable`` (expiry then
    commits remove-snapshot-ref/remove-snapshots TableUpdates; file
    deletion is storage-side either way)."""
    import os as _os

    table = resolve_table(location)
    tm = table.metadata
    snaps = sorted(tm.snapshots, key=lambda s: s.timestamp_ms)
    if retain_last < 1:
        raise ValueError("retain_last must be >= 1")

    # --- ref retention (r13, VERDICT task 6): the spec's per-reference
    # retention fields with the standard table-property defaults.
    # Semantics follow Iceberg's RemoveSnapshots: a ref's age is measured
    # from the commit timestamp of the snapshot it points at (refs carry
    # no creation time); an aged-out non-main ref is DROPPED, then each
    # surviving branch keeps its head plus min-snapshots-to-keep ancestors
    # plus every ancestor younger than max-snapshot-age-ms; a tag keeps
    # just its head. Property precedence: ref field > table property >
    # keep-forever / keep-head-only — so tables that set NO retention
    # knobs behave exactly as before (r12 back-compat).
    import time as _time

    now_ms = int(_time.time() * 1000)
    props = tm.properties or {}

    def _prop_int(key: str) -> int | None:
        v = props.get(key)
        return None if v is None else int(v)

    tbl_max_ref_age = _prop_int("history.expire.max-ref-age-ms")
    tbl_min_keep = _prop_int("history.expire.min-snapshots-to-keep")
    tbl_max_snap_age = _prop_int("history.expire.max-snapshot-age-ms")

    by_id = {s.snapshot_id: s for s in snaps}

    def _ancestors(head: int) -> list:
        out, sid, seen = [], head, set()
        while sid is not None and sid in by_id and sid not in seen:
            seen.add(sid)
            s = by_id[sid]
            out.append(s)
            sid = s.parent_snapshot_id
        return out  # newest first

    dropped_refs: list[str] = []
    live_refs: dict[str, dict] = {}
    for name, r in tm.refs.items():
        max_age = r.get("max-ref-age-ms", tbl_max_ref_age)
        sid = r.get("snapshot-id")
        head = by_id.get(int(sid)) if sid is not None else None
        if (name != "main" and max_age is not None and head is not None
                and now_ms - head.timestamp_ms > int(max_age)):
            dropped_refs.append(name)
        else:
            live_refs[name] = r

    keep = set(s.snapshot_id for s in snaps[-retain_last:])
    cur = tm.current_snapshot_id
    if cur is not None:
        keep.add(cur)
    for name, r in live_refs.items():
        sid = r.get("snapshot-id")
        if sid is None:
            continue
        keep.add(int(sid))  # a live ref's head is never expired
        if r.get("type") == "tag":
            continue
        min_keep = r.get("min-snapshots-to-keep", tbl_min_keep)
        max_snap_age = r.get("max-snapshot-age-ms", tbl_max_snap_age)
        if min_keep is None and max_snap_age is None:
            continue  # no branch-history retention requested
        age_cutoff = (None if max_snap_age is None
                      else now_ms - int(max_snap_age))
        for i, s in enumerate(_ancestors(int(sid))):
            if ((min_keep is not None and i < int(min_keep))
                    or (age_cutoff is not None
                        and s.timestamp_ms >= age_cutoff)):
                keep.add(s.snapshot_id)

    expired = [
        s for s in snaps
        if s.snapshot_id not in keep
        and (older_than_ms is None or s.timestamp_ms < older_than_ms)
    ]
    if not expired and not dropped_refs:
        return {"expired": 0, "deleted_files": 0, "dropped_refs": []}

    retained = [s for s in snaps if s not in expired]
    expired_ids = {s.snapshot_id for s in expired}

    # commit the metadata change FIRST, delete unreachable files only after
    # it lands: if the commit fails (conflict, network) the table still
    # references the expired snapshots, and deleting their manifest lists
    # beforehand would corrupt time travel over history the table still
    # advertises. Aged-out refs go first: their pins must vanish in the
    # SAME commit that removes the snapshots they pointed at
    updates: list[dict] = [{"action": "remove-snapshot-ref",
                            "ref-name": n} for n in dropped_refs]
    if expired_ids:
        updates.append({"action": "remove-snapshots",
                        "snapshot-ids": sorted(expired_ids)})
    # statistics entries keyed by expired snapshots go with them — the
    # spec's remove-statistics update action, one per snapshot, like
    # Iceberg's own expire_snapshots (reference models it:
    # rest_catalog/objects/remove_statistics_update.hpp;
    # remove_partition_statistics_update)
    for key, action in (("statistics", "remove-statistics"),
                        ("partition-statistics",
                         "remove-partition-statistics")):
        for s in (tm.raw or {}).get(key) or []:
            sid = int(s.get("snapshot-id", -1))
            if sid in expired_ids:
                updates.append({"action": action, "snapshot-id": sid})
    table.commit_table(
        [{"type": "assert-table-uuid", "uuid": tm.table_uuid}], updates)

    catalog = getattr(table, "catalog", None)
    if catalog is not None and not catalog.config.remove_files_on_delete:
        # ATTACH remove_files_on_delete=false (horizon_compatible_writes):
        # catalog-managed storage cleans itself up — never touch files
        delete_files = False
    deleted = 0
    if delete_files:
        from .. import io as fio

        keep_meta, keep_data = _reachable_files(tm, retained)
        drop_meta, drop_data = _reachable_files(tm, expired)
        for path in sorted((drop_meta - keep_meta) | (drop_data - keep_data)):
            try:
                fio.get_io(path).remove(path)
                deleted += 1
            except FileNotFoundError:
                pass
    return {"expired": len(expired), "deleted_files": deleted,
            "dropped_refs": sorted(dropped_refs)}


#: Iceberg's remove_orphan_files default retention (3 days): files younger
#: than this are presumed to belong to an in-flight, not-yet-committed write.
_ORPHAN_DEFAULT_OLDER_THAN_MS = 3 * 24 * 3600 * 1000


def remove_orphan_files(
    location: str,
    *,
    dry_run: bool = False,
    older_than_ms: int | None = None,
) -> list[str]:
    """Delete data-directory files not referenced by ANY snapshot (failed
    writes, aborted jobs). Returns the removed (or would-remove) paths.

    Only files whose mtime is older than ``older_than_ms`` (default: 3 days,
    matching Iceberg's procedure) are candidates — a newer unreferenced file
    may belong to a write that simply hasn't committed yet. Raises if a
    referenced manifest can't be read rather than treating its files as
    orphans."""
    import os as _os
    import time as _time

    from .. import io as fio

    if older_than_ms is None:
        older_than_ms = _ORPHAN_DEFAULT_OLDER_THAN_MS
    cutoff_ms = _time.time() * 1000 - older_than_ms

    # a catalog table's snapshots come from the catalog (a transaction-
    # staged table's include the staged ones), so every file they
    # reference stays; the walk covers the table's storage location
    tm = resolve_table(location).metadata
    if not isinstance(location, str):
        location = tm.location
    _, referenced = _reachable_files(tm, tm.snapshots, strict=True)
    orphans = []
    # scan the default data dir AND every write.data.path the table has
    # EVER pointed writes at: a table that gained (or changed) the
    # property mid-life has files under each root, and an aborted write
    # lands wherever writes were pointed at the time. Historical roots
    # come from the metadata-log's previous metadata versions (ADVICE
    # r9: a property changed more than once left earlier override roots
    # unscanned forever). Each root resolves its OWN FileIO — the
    # override's stated purpose is a separate storage budget, so it may
    # live on a different scheme than the table location. A vanished
    # previous metadata file is skipped: its data roots are either the
    # current ones or unreachable from every live snapshot anyway; an
    # unreadable one raises.
    roots = {fio.join(location, "data"), tm.data_path()}
    import json as _json

    from ..metadata.table_metadata import _read_text
    from ..plans.scan_plan import _localize

    for entry in tm.metadata_log:
        prev_path = (entry or {}).get("metadata-file")
        if not prev_path:
            continue
        try:
            j = _json.loads(_read_text(_localize(tm, prev_path)))
        except FileNotFoundError:
            continue
        prev_root = (j.get("properties") or {}).get("write.data.path")
        if prev_root:
            roots.add(prev_root)
    seen: set[str] = set()
    for data_root in sorted(roots):
        for ent in fio.get_io(data_root).list_files(data_root):
            n = _os.path.basename(ent.path)
            if n.startswith(".") or n.startswith("_") or ent.path in seen:
                continue
            seen.add(ent.path)
            if ent.path not in referenced:
                if ent.mtime_ms > cutoff_ms:
                    continue
                orphans.append(ent.path)
    if not dry_run:
        for p in orphans:
            try:
                fio.get_io(p).remove(p)
            except FileNotFoundError:
                pass
    return sorted(orphans)


def _read_manifests(tm: TableMetadata, manifests, *, counts: dict | None = None):
    """Yield ``(manifest, entries)`` for each manifest, read through
    :func:`fanout.map_items`: above its threshold, with an active session,
    the Avro decodes fan out to executors and ship back pickled entries
    (KBs per manifest), so a 100k-manifest consolidation never
    serializes reads on the driver; below it they stay driver-serial.
    ``counts["distributed_manifest_reads"]`` records an executor read."""
    from .. import fanout
    from ..plans.scan_plan import _localize

    # the session lookup costs py4j round trips: only when it can matter
    spark = (SparkSession.getActiveSession()
             if len(manifests) > fanout.DRIVER_MAX else None)
    paths = [m.manifest_path for m in manifests]
    if counts is not None and fanout.on_executors(spark, len(paths),
                                                  tm.location):
        counts["distributed_manifest_reads"] = len(paths)
    entries = fanout.map_items(
        spark, paths,
        lambda ps: (mf.read_manifest(_localize(tm, p)) for p in ps),
        io_path=tm.location)
    yield from zip(manifests, entries)


def rewrite_manifests(
    location: str,
    *,
    target_entries_per_manifest: int = 100_000,
    min_input_manifests: int = 2,
    snapshot_properties: dict[str, str] | None = None,
) -> dict:
    """Consolidate small manifests into fewer, larger ones without touching
    data files (cf. Iceberg's ``rewrite_manifests`` procedure — the
    metadata-side complement of the reference's data-file compaction).
    Entries keep their sequence numbers (status EXISTING), grouped by
    (content, partition-spec) so pruning semantics are unchanged.

    Returns {"rewritten_manifests": n, "new_manifests": n}. ``location``
    may be a path or a catalog ``RestTable``."""
    import os as _os
    import time as _time
    import uuid as _uuid

    from ..metadata.table_metadata import Snapshot
    from ..plans.scan_plan import _localize

    table = resolve_table(location)
    tm = table.metadata
    snapshot = tm.current_snapshot()
    if snapshot is None or not snapshot.manifest_list:
        return {"rewritten_manifests": 0, "new_manifests": 0}
    manifests = mf.read_manifest_list(_localize(tm, snapshot.manifest_list))
    if len(manifests) < min_input_manifests:
        return {"rewritten_manifests": 0, "new_manifests": 0}

    counts = {"in": 0, "out": 0}

    def _build(tm: TableMetadata) -> Snapshot:
        """Re-runnable consolidation pass (fresh read of the CURRENT tip's
        manifest list, fresh snapshot id) — handed to the catalog commit as
        the conflict rebuilder so a retry consolidates the winner's
        manifests too instead of resurrecting a stale manifest list."""
        cur = tm.current_snapshot()
        srcs = mf.read_manifest_list(_localize(tm, cur.manifest_list))
        meta_dir = tm.metadata_write_path()
        snapshot_id = int.from_bytes(_os.urandom(7), "big")
        seq = tm.last_sequence_number + 1

        groups: dict[tuple[int, int], list[mf.ManifestEntry]] = {}
        for m, entries in _read_manifests(tm, srcs, counts=counts):
            # v3 row lineage: materialize inherited first-row-ids BEFORE
            # the entries detach from their source manifest — a
            # consolidated manifest has no per-source inheritance context,
            # and losing the ids would re-derive _row_id from the WRONG base
            mf.inherit_first_row_ids(entries, m.first_row_id)
            live = [e for e in entries if e.status != mf.STATUS_DELETED]
            _inherit_before_existing(live, m)
            groups.setdefault((m.content, m.partition_spec_id), []).extend(live)

        new_manifests: list[mf.ManifestFile] = []
        for (content, spec_id), entries in sorted(groups.items()):
            spec = tm.partition_specs.get(spec_id, tm.default_spec())
            for i in range(0, len(entries), target_entries_per_manifest):
                chunk = entries[i:i + target_entries_per_manifest]
                prefix = "m" if content == mf.MANIFEST_DATA else "dm"
                mpath = _os.path.join(meta_dir, f"{prefix}-{_uuid.uuid4()}.avro")
                nm = mf.write_manifest(mpath, chunk, tm, spec, content)
                nm.added_snapshot_id = snapshot_id
                nm.sequence_number = max(e.sequence_number or 0 for e in chunk)
                nm.min_sequence_number = min(e.sequence_number or 0 for e in chunk)
                new_manifests.append(nm)

        counts["in"], counts["out"] = len(srcs), len(new_manifests)
        ml_path = _os.path.join(meta_dir, f"snap-{snapshot_id}.avro")
        mf.write_manifest_list(ml_path, new_manifests, snapshot_id,
                               tm.current_snapshot_id, seq, tm.format_version,
                               properties=tm.properties)
        return Snapshot(
            snapshot_id=snapshot_id,
            parent_snapshot_id=tm.current_snapshot_id,
            sequence_number=seq,
            timestamp_ms=int(_time.time() * 1000),
            manifest_list=ml_path,
            summary={"operation": "replace",
                     "rewritten-manifests": str(len(srcs)),
                     "added-manifests": str(len(new_manifests)),
                     # user summary props ride the commit like the write
                     # path's snapshot_properties (VERDICT r10 task 6)
                     **{str(k): str(v)
                        for k, v in (snapshot_properties or {}).items()}},
            schema_id=tm.current_schema_id,
        )

    committer(table, "replace")(_build(tm), _build)
    return {"rewritten_manifests": counts["in"],
            "new_manifests": counts["out"],
            "distributed_manifest_reads":
                counts.get("distributed_manifest_reads", 0)}


def rewrite_position_delete_files(
    spark: SparkSession,
    location: str,
    *,
    min_input_files: int = 2,
    rewrite_all: bool = False,
    convert_equality: bool = False,
    snapshot_properties: dict[str, str] | None = None,
) -> dict[str, Any]:
    """Compact positional-delete files (the Spark procedure
    ``rewrite_position_delete_files`` analogue — beyond the reference,
    which has no delete maintenance at all): merge a data file's stacked
    parquet positional-delete files into one, drop DANGLING delete rows
    (rows referencing data files no longer live — left behind by
    compaction/CoW), and on v3 tables convert leftover parquet positional
    deletes into Puffin deletion vectors (merging each file's prior DV —
    the v2→v3 delete migration step).

    ``convert_equality=True`` additionally MATERIALIZES equality deletes:
    the removed row set is derived exactly (raw scan positions anti-join
    surviving scan positions), written as positional deletes / DVs, and
    the equality-delete files are dropped — subsequent scans pay a
    per-file-prunable positional anti-join instead of null-safe equality
    conjunctions over every row. This path reads the affected data twice
    (it is a maintenance-time trade, like copy-on-write, not delta-sized).

    Sequence correctness: merged delete files commit at the new (higher)
    sequence number. Positional deletes apply at delete.seq >= data.seq,
    so raising the sequence can only widen applicability to data files
    added AFTER the originals — and no delete row can reference such a
    file (paths are UUID-unique and rows target exact (path, pos)), so
    the applied set is unchanged. The equality conversion bakes each
    delete's own sequence predicate in, because the surviving scan applies
    it (delete.seq > data.seq) before the anti-join. Dangling rows are
    dropped by a broadcast semi-join against the live path set
    (metadata-sized).

    Scale shape (default path): delete rows are delta-sized; reading them
    back is one parquet scan, the merge is the same per-referenced-file
    applyInPandas fan-out MoR DML uses, and the driver only ever sees
    per-file entry stats. Returns a summary dict; commits one REPLACE
    snapshot (no-op → no commit)."""
    from pyspark.sql import functions as F

    from ..io import normalize_path
    from ..plans.scan_plan import _localize, manifests_for_snapshot
    from .dml import _write_row_deletes

    if min_input_files < 1:
        raise ValueError("min_input_files must be >= 1")
    table = resolve_table(location)
    tm = table.metadata
    snapshot = tm.select_snapshot()
    summary: dict[str, Any] = {
        "rewritten_delete_files_count": 0,
        "added_delete_files_count": 0,
        "removed_dangling_rows_count": 0,
    }
    if snapshot is None:
        return summary
    plan = plan_scan(tm, snapshot, None)
    live = {normalize_path(t.data_file.file_path) for t in plan.tasks}

    cand: list[mf.DataFile] = []  # parquet positional-delete files
    eq_cand: list[mf.DataFile] = []  # equality-delete files (conversion)
    for m in manifests_for_snapshot(tm, snapshot):
        for e in mf.read_manifest(_localize(tm, m.manifest_path)):
            if e.status == mf.STATUS_DELETED:
                continue
            d = e.data_file
            if m.content != mf.MANIFEST_DELETES and d.content not in (
                    mf.CONTENT_POSITION_DELETES, mf.CONTENT_EQUALITY_DELETES):
                continue
            if d.content == mf.CONTENT_POSITION_DELETES \
                    and (d.file_format or "").upper() in ("PARQUET", "ORC",
                                                          "AVRO"):
                # r14: ORC/Avro positional deletes compact too — the
                # read-back routes by recorded format like the scan
                cand.append(d)
            elif d.content == mf.CONTENT_EQUALITY_DELETES and convert_equality:
                eq_cand.append(d)
    if not cand and not eq_cand:
        return summary

    per_ref: dict[str, int] = {}
    loose = 0  # files without referenced_data_file (foreign multi-file)
    maybe_dangling = False
    for d in cand:
        if d.referenced_data_file:
            ref = normalize_path(d.referenced_data_file)
            per_ref[ref] = per_ref.get(ref, 0) + 1
            if ref not in live:
                maybe_dangling = True
        else:
            loose += 1
    needs = (rewrite_all or tm.format_version >= 3 or maybe_dangling
             or loose > 0 or bool(eq_cand)
             or (per_ref and max(per_ref.values()) >= min_input_files))
    if not needs:
        return summary

    paths = sorted({_localize(tm, d.file_path) for d in cand})
    if eq_cand:
        # equality conversion: derive the EXACT removed row set — raw
        # positions minus surviving positions (the surviving scan applies
        # every delete flavor with its own sequence predicate). Subsumes
        # the parquet positional rows, so no delete-file read is needed.
        from ..plans.scan_plan import FileScanTask as _FST
        from ..plans.scan_plan import ScanPlan as _SP
        from .scan import scan_to_dataframe

        bare = _SP(tm, snapshot, [
            _FST(data_file=t.data_file, sequence_number=t.sequence_number,
                 spec_id=t.spec_id, first_row_id=t.first_row_id)
            for t in plan.tasks], None, plan.schema_id)
        cols = lambda d: d.select(  # noqa: E731
            F.col("filename").alias("file_path"),
            F.col("file_row_number").alias("pos"))
        full = cols(scan_to_dataframe(spark, bare, with_file_info=True))
        alive = cols(scan_to_dataframe(spark, plan, with_file_info=True))
        kept = full.join(alive, ["file_path", "pos"], "left_anti")
        kept_n = kept.count()
        summary["converted_equality_files_count"] = len(eq_cand)
    else:
        from .scan import _position_deletes

        by_path = {_localize(tm, d.file_path): d.file_format for d in cand}
        rows = _position_deletes(spark, dict(sorted(by_path.items())),
                                 "file_path", "pos")
        live_df = F.broadcast(spark.createDataFrame(
            [(p,) for p in sorted(live)], "file_path: string"))
        kept = rows.join(live_df, "file_path", "left_semi").distinct()
        kept_n = kept.count()
        # duplicates across stacked delete files collapse in the distinct —
        # only truly dangling rows (dead data path) count as dropped
        dang = (rows.join(live_df, "file_path", "left_anti").count())
        summary["removed_dangling_rows_count"] = dang

    new_files: list[mf.DataFile] = []
    superseded: set[str] = set()
    if kept_n:
        new_files, superseded = _write_row_deletes(spark, tm, kept, plan)

    removed = ({d.file_path for d in cand} | set(paths)
               | {d.file_path for d in eq_cand}
               | {_localize(tm, d.file_path) for d in eq_cand})
    extra = {"rewritten-delete-files-count": str(len(cand))}
    for k, v in (snapshot_properties or {}).items():
        extra[k] = v
    snap = commit_snapshot(
        tm, operation="replace",
        new_delete_files=new_files,
        removed_delete_paths=removed,
        superseded_dv_refs=superseded or None,
        extra_summary=extra,
        commit_fn=committer(table, "replace"),
    )
    summary["rewritten_delete_files_count"] = len(cand) + len(eq_cand)
    summary["added_delete_files_count"] = len(new_files)
    summary["snapshot_id"] = snap.snapshot_id
    return summary


def vacuum(
    spark: SparkSession,
    location: str,
    *,
    older_than_ms: int | None = None,
    retain_last: int = 1,
) -> dict[str, Any]:
    """Housekeeping combo (the DuckDB-style ``VACUUM`` verb over Iceberg):
    expire old snapshots, then reclaim orphan files — one call for the
    nightly maintenance job. ``spark`` is accepted for CALL-surface
    uniformity (both steps are metadata/driver-side IO).

    ``older_than_ms`` is a RELATIVE retention age (the Iceberg/DuckDB
    retention idiom, and what ``remove_orphan_files`` already takes):
    "expire anything older than N ms". ``expire_snapshots`` wants an
    absolute epoch-ms cutoff, so vacuum translates (now - age) for that
    half — passing one value to both verbatim would make one half a
    silent no-op (ADVICE r12)."""
    import time as _time

    del spark  # metadata-only; parameter kept for procedure uniformity
    cutoff_ms = (None if older_than_ms is None
                 else int(_time.time() * 1000) - older_than_ms)
    exp = expire_snapshots(location, older_than_ms=cutoff_ms,
                           retain_last=retain_last)
    orph = remove_orphan_files(location, older_than_ms=older_than_ms)
    out: dict[str, Any] = {}
    for k, v in exp.items():
        out[f"expire_{k}"] = v
    # remove_orphan_files returns the removed paths (list[str]) — surface
    # both the count and the paths so vacuum's report covers both halves
    out["orphan_deleted_count"] = len(orph)
    out["orphan_deleted_paths"] = list(orph)
    return out
