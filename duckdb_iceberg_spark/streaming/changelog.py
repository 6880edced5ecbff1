"""Row-level changelog (CDC) reads between snapshots.

The reference has no changelog surface; this mirrors Apache Iceberg's
Spark `create_changelog_view` semantics: for each snapshot in
(from, to], emit the NET row-level changes with

- ``_change_type``: 'insert' | 'delete'
- ``_change_ordinal``: 0-based position of the snapshot among the
  CHANGE-CARRYING snapshots of the range. Upstream's
  BaseIncrementalChangelogScan filters `replace` (compaction) snapshots
  out BEFORE computing snapshot ordinals, so a compaction never consumes
  an ordinal; we match that exactly (a non-replace snapshot that happens
  to touch no files still consumes one, as upstream's do). Use
  ``_commit_snapshot_id`` to map a row back to its commit.
- ``_commit_snapshot_id``

An UPDATE (delete+insert in one snapshot) appears as a delete row plus
an insert row at the same ordinal.

Scale shape: per snapshot only the TOUCHED files are read — files
added, files removed, and data files whose attached delete set changed
(a new positional/equality delete or DV). The before/after states of
just those files are diffed with EXCEPT ALL, so work is proportional to
the change (plus co-resident rows of touched files), never a full-table
diff. Compaction (`replace`) snapshots are skipped — they rearrange
already-emitted rows.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog.commit import resolve_table
from ..metadata.table_metadata import TableMetadata
from ..plans.scan_plan import ScanPlan, plan_scan
from ..sources.scan import scan_to_dataframe


def _delete_signature(task) -> tuple:
    """Hashable identity of a task's delete set (positional + equality),
    so 'did this file's deletes change?' is a set compare."""
    pos = tuple(sorted(
        (d.file_path, d.content_offset or 0) for d in task.positional_deletes))
    eq = tuple(sorted(
        (d.file_path,) for _seq, d in task.equality_deletes))
    return pos, eq


def _restricted_df(spark: SparkSession, tm: TableMetadata, snap, plan: ScanPlan,
                   paths: set[str]) -> DataFrame | None:
    tasks = [t for t in plan.tasks if t.data_file.file_path in paths]
    if not tasks:
        return None
    sub = ScanPlan(tm, snap, tasks, None, plan.schema_id)
    return scan_to_dataframe(spark, sub)


def changelog_scan(
    spark: SparkSession,
    location: str,
    *,
    from_snapshot_id: Optional[int] = None,
    to_snapshot_id: Optional[int] = None,
) -> DataFrame:
    """DataFrame of net row-level changes after ``from_snapshot_id``
    (exclusive) up to ``to_snapshot_id`` (inclusive; current when None),
    with _change_type / _change_ordinal / _commit_snapshot_id appended.
    ``location`` is a filesystem path OR a catalog table handle
    (r14 — anything with ``refresh()`` returning an object carrying
    ``.metadata``): the plan below only needs TableMetadata, whose file
    paths resolve through the same FileIO either way."""
    tm = resolve_table(location).metadata

    # ancestor chain oldest→newest, like incremental.appended_snapshots
    # but keeping EVERY operation (deletes/overwrites are the point here)
    chain = []
    cur = (tm.snapshot_by_id(to_snapshot_id) if to_snapshot_id
           else tm.current_snapshot())
    while cur is not None and cur.snapshot_id != from_snapshot_id:
        chain.append(cur)
        cur = (tm.snapshot_by_id(cur.parent_snapshot_id)
               if cur.parent_snapshot_id is not None else None)
    if from_snapshot_id is not None and cur is None:
        raise ValueError(
            f"snapshot {from_snapshot_id} is not an ancestor of the target")
    chain.reverse()

    pieces: list[DataFrame] = []
    schema = None
    # each snapshot is planned once as "current" and reused as the next
    # snapshot's "parent" — without this cache every snapshot in a long
    # range is metadata-planned twice
    last_plan: tuple[int, ScanPlan] | None = None
    ordinal = -1
    for snap in chain:
        if snap.operation == "replace":
            last_plan = None  # parent of the next snap is the replace snap
            continue  # compaction: no logical change, no ordinal (upstream)
        ordinal += 1
        parent = (tm.snapshot_by_id(snap.parent_snapshot_id)
                  if snap.parent_snapshot_id is not None else None)
        plan_cur = plan_scan(tm, snap)
        schema = schema or plan_cur.spark_schema()
        cur_by_path = {t.data_file.file_path: t for t in plan_cur.tasks}
        if parent is None:
            par_by_path: dict = {}
            plan_par = None
        else:
            if last_plan is not None and last_plan[0] == parent.snapshot_id:
                plan_par = last_plan[1]
            else:
                plan_par = plan_scan(tm, parent)
            par_by_path = {t.data_file.file_path: t for t in plan_par.tasks}
        last_plan = (snap.snapshot_id, plan_cur)

        touched: set[str] = set()
        touched |= set(cur_by_path) ^ set(par_by_path)  # added or removed
        for p in set(cur_by_path) & set(par_by_path):   # delete set changed
            if _delete_signature(cur_by_path[p]) != _delete_signature(par_by_path[p]):
                touched.add(p)
        if not touched:
            continue

        after = _restricted_df(spark, tm, snap, plan_cur, touched)
        before = (None if plan_par is None
                  else _restricted_df(spark, tm, parent, plan_par, touched))

        ins = dels = None
        if before is None:
            ins = after
        elif after is None:
            dels = before
        else:
            ins = after.exceptAll(before)
            dels = before.exceptAll(after)

        for df, kind in ((ins, "insert"), (dels, "delete")):
            if df is None:
                continue
            pieces.append(df.select(
                "*",
                F.lit(kind).alias("_change_type"),
                F.lit(ordinal).alias("_change_ordinal"),
                F.lit(snap.snapshot_id).alias("_commit_snapshot_id"),
            ))

    if not pieces:
        if schema is None:
            snap0 = tm.select_snapshot()
            schema = plan_scan(tm, snap0).spark_schema() if snap0 else None
        base = spark.createDataFrame([], schema) if schema is not None \
            else spark.range(0).drop("id")
        return base.select(
            "*",
            F.lit(None).cast("string").alias("_change_type"),
            F.lit(None).cast("int").alias("_change_ordinal"),
            F.lit(None).cast("long").alias("_commit_snapshot_id"),
        ).limit(0)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out
