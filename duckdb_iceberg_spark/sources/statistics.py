"""Table statistics: the Spark ``system.compute_table_stats`` procedure
analogue writing spec statistics files (NEW r13).

The Iceberg spec attaches per-snapshot statistics files (Puffin) whose
``apache-datasketches-theta-v1`` blobs carry one distinct-count sketch
per column with an ``ndv`` property — query planners use them for join
ordering. The reference MODELS the metadata shape
(rest_catalog/objects/statistics_file.cpp) and this repo already expires
statistics with their snapshots; this module adds the WRITE + READ side:

- ``compute_table_stats(spark, location, columns=None)`` — ONE
  distributed pass over the table (MoR deletes respected via
  iceberg_scan), each partition contributing k+1-bounded candidate hash
  sets per column (metadata/theta.py), the driver merging k-bounded
  candidates, writing one Puffin statistics file, and committing it as
  the spec's ``set-statistics`` TableUpdate.
- ``table_ndv(location)`` — read back {column: ndv} from the current
  snapshot's statistics file.

Scale: the only driver state is O(columns * partitions * k) candidate
hashes (k = 4096 by default, so ~32 KB per column per partition), and
the scan itself is the same pruned DataFrame any query uses — no
distinct shuffle, no second pass.
"""

from __future__ import annotations

from typing import Iterable, Optional

from pyspark.sql import SparkSession

from ..catalog.commit import FileTable, resolve_table
from ..metadata import theta
from ..metadata.puffin import read_blob, read_puffin_footer, write_puffin_file

THETA_BLOB_TYPE = "apache-datasketches-theta-v1"

#: column physical types the sketch hashes directly; anything else (incl.
#: nested) is skipped like Spark's own procedure skips unsupported types
_SKETCHABLE = ("string", "long", "int", "double", "float", "boolean",
               "date", "timestamp", "binary", "decimal")


def _sketch_df(df, cols: list[str], k: int) -> dict:
    """One distributed pass over ``df``: {column: ThetaSketch}. Each
    partition contributes k+1-bounded candidate hash sets per column;
    the driver merges. Hashes are < 2^63 (theta domain) so they ride a
    signed long."""
    import numpy as np

    k_eff = int(k)

    def batches(it):
        import pandas as pd

        from duckdb_iceberg_spark.metadata import theta as _th

        # accumulate ONE candidate set per column across this
        # partition's batches; yield a single bounded frame
        cand = {c: [] for c in cols}
        for pdf in it:
            for c in cols:
                vals = pdf[c].dropna().tolist()
                if vals:
                    cand[c].append(_th.partition_candidates(vals, k_eff))
        rows_c, rows_h = [], []
        for c in cols:
            if cand[c]:
                merged = _th.merge_candidates(cand[c], k_eff)
                rows_c.extend([c] * len(merged))
                rows_h.extend(int(h) for h in merged)
        yield pd.DataFrame({"c": pd.Series(rows_c, dtype="object"),
                            "h": pd.Series(rows_h, dtype="int64")})

    rows = df.select(*cols).mapInPandas(batches, "c string, h long").collect()
    per_col: dict[str, list] = {c: [] for c in cols}
    for r in rows:
        per_col[r.c].append(int(r.h))
    return {
        c: theta.ThetaSketch(
            theta.merge_candidates(
                [np.array(per_col[c], dtype=np.uint64)], k_eff),
            k=k_eff)
        for c in cols
    }


def _register(table, key: str, snap, entry: dict) -> None:
    """Commit ``entry`` as ``snap``'s statistics (``key`` 'statistics') or
    partition statistics, replacing any earlier entry of that snapshot."""
    table.commit_table(
        [{"type": "assert-table-uuid", "uuid": table.metadata.table_uuid}],
        [{"action": f"set-{key}", "snapshot-id": snap.snapshot_id,
          key: entry}])


def _write_stats_entry(table, snap, sketches: dict,
                       field_id_of: dict) -> dict:
    """Serialize {column: sketch} into one Puffin statistics file and
    register it for ``snap`` (replacing same-snapshot entries). Returns
    {column: ndv}."""
    import os
    import uuid as _uuid

    blobs, ndv = [], {}
    for c in sorted(sketches):
        sk = sketches[c]
        est = int(round(sk.estimate()))
        ndv[c] = est
        blobs.append((sk.serialize(), {
            "type": THETA_BLOB_TYPE,
            "fields": [int(field_id_of[c])],
            "snapshot-id": snap.snapshot_id,
            "sequence-number": snap.sequence_number,
            "properties": {"ndv": str(est)},
        }))
    path = os.path.join(table.metadata.metadata_write_path(),
                        f"{_uuid.uuid4()}.stats")
    size, footer, metas = write_puffin_file(path, blobs)
    entry = {
        "snapshot-id": snap.snapshot_id,
        "statistics-path": path,
        "file-size-in-bytes": size,
        "file-footer-size-in-bytes": footer,
        "blob-metadata": [
            {"type": m.type, "snapshot-id": m.snapshot_id,
             "sequence-number": m.sequence_number, "fields": m.fields,
             "properties": m.properties}
            for m in metas],
    }
    _register(table, "statistics", snap, entry)
    return ndv


def compute_table_stats(
    spark: SparkSession,
    location,
    columns: Optional[Iterable[str]] = None,
    *,
    k: int = theta.DEFAULT_K,
    incremental: bool = False,
) -> dict:
    """Compute theta-sketch NDV statistics for ``columns`` (default: all
    sketchable top-level primitives), write one Puffin statistics file
    under the table's metadata dir, and register it for the CURRENT
    snapshot (replacing any prior statistics of that snapshot, like
    Iceberg's procedure). Returns {column: ndv-estimate}.

    ``incremental=True`` (r13): instead of re-scanning the table, sketch
    ONLY the data files added since the last registered statistics
    snapshot and theta-UNION with its deserialized sketches — the
    mergeability that makes per-commit stats affordable at 100 TB.
    Valid only when every snapshot since the base is an append or a
    compaction (theta unions can't retract deleted values; replace
    re-sketches identical rows, which the duplicate-insensitive union
    absorbs) — anything else raises, telling the caller to run a full
    compute. Columns default to the BASE file's sketched columns."""
    from .scan import iceberg_scan

    table = resolve_table(location)
    tm = table.metadata
    snap = tm.current_snapshot()
    if snap is None:
        raise ValueError("table has no snapshots to analyze")
    schema = tm.schema_json()
    by_name = {f["name"]: f for f in schema.get("fields", [])
               if isinstance(f.get("type"), str)
               and f["type"].startswith(_SKETCHABLE)}
    field_id_of = {c: int(f["id"]) for c, f in by_name.items()}

    if incremental:
        return _compute_incremental(spark, location, table, snap,
                                    by_name, columns, int(k))

    if columns is None:
        cols = sorted(by_name)
    else:
        cols = list(columns)
        unknown = [c for c in cols if c not in by_name]
        if unknown:
            raise ValueError(
                f"cannot sketch {unknown}: not top-level primitive "
                f"columns (sketchable: {sorted(by_name)})")
    if not cols:
        raise ValueError("no sketchable columns")

    if isinstance(table, FileTable):
        df = iceberg_scan(spark, table.location)
    else:
        from ..catalog.scan_planning import scan_rest_table

        df = scan_rest_table(spark, table, server_planning=False)
    sketches = _sketch_df(df, cols, int(k))
    return _write_stats_entry(table, snap, sketches, field_id_of)


def _compute_incremental(spark, location, table, snap, by_name,
                         columns, k: int) -> dict:
    from ..plans.scan_plan import ScanPlan, plan_scan
    from ..sources.scan import scan_to_dataframe
    from ..streaming.incremental import appended_snapshots

    tm = table.metadata
    names_by_id = {int(f["id"]): c for c, f in by_name.items()}
    # the newest registered statistics whose snapshot is an ancestor of
    # the current one — the merge base
    ancestors: set[int] = set()
    cur = snap
    while cur is not None:
        ancestors.add(cur.snapshot_id)
        cur = (tm.snapshot_by_id(cur.parent_snapshot_id)
               if cur.parent_snapshot_id is not None else None)
    entries = [s for s in (tm.raw.get("statistics") or [])
               if int(s.get("snapshot-id", -1)) in ancestors]
    if not entries:
        raise ValueError(
            "incremental=True needs a prior statistics file on the "
            "current ancestry; run a full compute_table_stats first")
    base = max(entries, key=lambda s: int(s["snapshot-id"]))
    base_sid = int(base["snapshot-id"])
    if base_sid == snap.snapshot_id:
        return table_ndv(location)

    # raises on delete/overwrite since the base — unions can't retract
    appended_snapshots(tm, base_sid, snap.snapshot_id)
    # appended_snapshots waves 'replace' through (for streaming a
    # compaction only rearranges already-delivered rows), but for NDV a
    # delete-APPLYING rewrite drops rows whose hashes stay in the base
    # sketch (ADVICE r13). Every replace on the chain must have
    # preserved total-records; a missing summary is unverifiable and
    # refuses the same way.
    cur = snap
    while cur is not None and cur.snapshot_id != base_sid:
        if (cur.summary or {}).get("operation") == "replace":
            parent = (tm.snapshot_by_id(cur.parent_snapshot_id)
                      if cur.parent_snapshot_id is not None else None)
            tr = (cur.summary or {}).get("total-records")
            ptr = ((parent.summary or {}).get("total-records")
                   if parent is not None else None)
            if tr is None or ptr is None or int(tr) < int(ptr):
                raise ValueError(
                    f"incremental=True cannot cross replace snapshot "
                    f"{cur.snapshot_id}: it removed rows (or its "
                    "total-records summary is missing) and theta "
                    "unions cannot retract; run a full "
                    "compute_table_stats")
        cur = (tm.snapshot_by_id(cur.parent_snapshot_id)
               if cur.parent_snapshot_id is not None else None)

    base_path = base["statistics-path"]
    base_sketches: dict[str, theta.ThetaSketch] = {}
    for blob in read_puffin_footer(base_path):
        if blob.type != THETA_BLOB_TYPE or not blob.fields:
            continue
        c = names_by_id.get(int(blob.fields[0]))
        if c is not None:
            base_sketches[c] = theta.ThetaSketch.deserialize(
                read_blob(base_path, blob), k=k)
    cols = sorted(base_sketches) if columns is None else list(columns)
    missing = [c for c in cols if c not in base_sketches]
    if missing:
        raise ValueError(
            f"incremental=True cannot add columns {missing} absent from "
            "the base statistics file; run a full compute for them")

    # the delta: files in the current snapshot the base never had
    cur_plan = plan_scan(tm, snap)
    base_files = {t.data_file.file_path
                  for t in plan_scan(tm, tm.snapshot_by_id(base_sid)).tasks}
    new_tasks = [t for t in cur_plan.tasks
                 if t.data_file.file_path not in base_files]
    if new_tasks:
        sub = ScanPlan(tm, snap, new_tasks, None, cur_plan.schema_id)
        new_sketches = _sketch_df(scan_to_dataframe(spark, sub), cols, k)
        merged = {c: theta.ThetaSketch.union(
            [base_sketches[c], new_sketches[c]], k=k) for c in cols}
    else:
        merged = {c: base_sketches[c] for c in cols}
    field_id_of = {c: int(by_name[c]["id"]) for c in cols}
    return _write_stats_entry(table, snap, merged, field_id_of)


def compute_partition_stats(location) -> dict:
    """Write the spec's PARTITION STATISTICS file for the current
    snapshot (NEW r13 — the ``partition-statistics`` sibling of the ndv
    statistics above; the reference models the metadata entry at
    rest_catalog/objects/partition_statistics_file.cpp and this repo
    already expires them): one parquet row per partition tuple with the
    spec's field ids/names (partition, spec_id, data_record_count,
    data_file_count, total_data_file_size_in_bytes,
    position/equality delete counts, last_updated_at/_snapshot_id),
    registered under ``partition-statistics`` in table metadata by the
    set-partition-statistics TableUpdate.

    Metadata-only: aggregates manifest entries via plan_scan — no data
    file is opened, O(#partitions) driver rows. Returns
    {"path":…, "partitions": n}."""
    import os
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..plans.scan_plan import plan_scan

    table = resolve_table(location)
    tm = table.metadata
    snap = tm.current_snapshot()
    if snap is None:
        raise ValueError("table has no snapshots to analyze")
    plan = plan_scan(tm, snap)

    # unified partition tuple: every field name any live spec defines
    field_names: list[str] = []
    for spec in tm.partition_specs.values():
        for pf in spec.fields:
            if pf.name not in field_names:
                field_names.append(pf.name)

    # keyed by (spec_id, partition tuple): two specs can render the same
    # unified tuple (a field absent from an older spec reads as None,
    # indistinguishable from a genuine NULL partition value) and the
    # partition-stats format keeps those rows separate (ADVICE r13)
    per: dict[tuple, dict] = {}
    for t in plan.tasks:
        df_ = t.data_file
        key = (int(t.spec_id),) + tuple(
            df_.partition.get(n) for n in field_names)
        agg = per.setdefault(key, {
            "spec_id": 0, "data_record_count": 0, "data_file_count": 0,
            "total_data_file_size_in_bytes": 0,
            "position_delete_record_count": 0, "pos_files": set(),
            "equality_delete_record_count": 0, "eq_files": set(),
        })
        agg["spec_id"] = t.spec_id
        agg["data_record_count"] += int(df_.record_count or 0)
        agg["data_file_count"] += 1
        agg["total_data_file_size_in_bytes"] += \
            int(df_.file_size_in_bytes or 0)
        for d in t.positional_deletes:
            if d.file_path not in agg["pos_files"]:
                agg["pos_files"].add(d.file_path)
                agg["position_delete_record_count"] += \
                    int(d.record_count or 0)
        for _, d in t.equality_deletes:
            if d.file_path not in agg["eq_files"]:
                agg["eq_files"].add(d.file_path)
                agg["equality_delete_record_count"] += \
                    int(d.record_count or 0)

    keys = sorted(per, key=lambda k: tuple(str(v) for v in k))
    part_struct = pa.StructArray.from_arrays(
        [pa.array([k[i + 1] for k in keys])
         for i in range(len(field_names))] or [],
        names=field_names) if field_names else None
    cols = {
        "spec_id": pa.array([per[k]["spec_id"] for k in keys],
                            pa.int32()),
        "data_record_count": pa.array(
            [per[k]["data_record_count"] for k in keys], pa.int64()),
        "data_file_count": pa.array(
            [per[k]["data_file_count"] for k in keys], pa.int32()),
        "total_data_file_size_in_bytes": pa.array(
            [per[k]["total_data_file_size_in_bytes"] for k in keys],
            pa.int64()),
        "position_delete_record_count": pa.array(
            [per[k]["position_delete_record_count"] for k in keys],
            pa.int64()),
        "position_delete_file_count": pa.array(
            [len(per[k]["pos_files"]) for k in keys], pa.int32()),
        "equality_delete_record_count": pa.array(
            [per[k]["equality_delete_record_count"] for k in keys],
            pa.int64()),
        "equality_delete_file_count": pa.array(
            [len(per[k]["eq_files"]) for k in keys], pa.int32()),
        "last_updated_at": pa.array(
            [snap.timestamp_ms] * len(keys), pa.int64()),
        "last_updated_snapshot_id": pa.array(
            [snap.snapshot_id] * len(keys), pa.int64()),
    }
    names = ["partition"] if part_struct is not None else []
    arrays = [part_struct] if part_struct is not None else []
    names += list(cols)
    arrays += list(cols.values())
    stats_table = pa.table(dict(zip(names, arrays)))

    path = os.path.join(tm.metadata_write_path(),
                        f"partition-stats-{_uuid.uuid4()}.parquet")
    import io as _io

    buf = _io.BytesIO()
    pq.write_table(stats_table, buf)
    from .. import io as fio

    fio.get_io(path).write_bytes(path, buf.getvalue())
    entry = {
        "snapshot-id": snap.snapshot_id,
        "statistics-path": path,
        "file-size-in-bytes": len(buf.getvalue()),
    }
    _register(table, "partition-statistics", snap, entry)
    return {"path": path, "partitions": len(keys)}


def read_partition_stats(spark: SparkSession, location,
                         snapshot_id: int | None = None):
    """The registered partition-statistics file as a DataFrame."""
    tm = resolve_table(location).metadata
    sid = snapshot_id if snapshot_id is not None else tm.current_snapshot_id
    entry = next((s for s in (tm.raw.get("partition-statistics") or [])
                  if int(s.get("snapshot-id", -1)) == sid), None)
    if entry is None:
        raise KeyError(f"no partition statistics for snapshot {sid}")
    return spark.read.parquet(entry["statistics-path"])


def table_ndv(location, snapshot_id: int | None = None) -> dict[str, int]:
    """{column: ndv} from the statistics file registered for
    ``snapshot_id`` (default: current). Reads the theta blobs back and
    re-estimates, so the numbers survive even if a writer dropped the
    ndv property."""
    tm = resolve_table(location).metadata
    sid = snapshot_id if snapshot_id is not None else tm.current_snapshot_id
    entry = next((s for s in (tm.raw.get("statistics") or [])
                  if int(s.get("snapshot-id", -1)) == sid), None)
    if entry is None:
        raise KeyError(f"no statistics registered for snapshot {sid}")
    names = {int(f["id"]): f["name"]
             for f in tm.schema_json().get("fields", [])}
    out: dict[str, int] = {}
    path = entry["statistics-path"]
    for blob in read_puffin_footer(path):
        if blob.type != THETA_BLOB_TYPE or not blob.fields:
            continue
        col = names.get(int(blob.fields[0]))
        if col is None:
            continue
        sk = theta.ThetaSketch.deserialize(read_blob(path, blob))
        out[col] = int(round(sk.estimate()))
    return out
