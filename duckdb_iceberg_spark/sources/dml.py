"""Row-level DML: DELETE FROM, UPDATE, MERGE INTO.

PySpark re-expression of the reference's write operators:

- DELETE (reference: src/execution/operator/iceberg_delete.cpp): the
  reference buffers (file, row) pairs from the scan and writes v2 positional
  -delete parquet (:294) or v3 Puffin DVs (:165-206). Here merge-on-read
  computes the same (file_path, pos) set as a DataFrame —
  ``scan.filter(pred).select(filename, file_row_number)`` — and writes
  positional-delete parquet; copy-on-write rewrites only the files the
  planner says may contain matches, dropping provably-all-match files
  without reading them (predicates.definitely_matches).
- UPDATE (reference: iceberg_update.cpp:46-66 — planned as delete+insert
  sharing one snapshot): both manifests commit in a single snapshot here too.
- MERGE INTO (reference: merge_into/iceberg_merge_into.cpp:136-266 — WHEN
  clauses share one source join): two-phase copy-on-write — a semi-join
  finds affected target files, then only those files are rewritten with the
  merge actions applied; unmatched-source rows become inserts.

Scale notes: the only driver-side state is file lists; all row work is
DataFrame joins (broadcast where the delete/source side is small). Skewed
merge keys are handled by AQE skew-join (session.py).
"""

from __future__ import annotations

import os
import uuid as _uuid
from dataclasses import dataclass
from typing import Any, Mapping, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import io as fio
from ..catalog.commit import committer, resolve_table
from ..metadata import manifest as mf
from ..metadata import types as ice_types
from ..metadata.table_metadata import TableMetadata
from ..plans import predicates as P
from ..plans.scan_plan import ScanPlan, plan_scan, _coerce_pred
from .scan import scan_to_dataframe, _FILE_COL, _POS_COL, _norm_path_py
from .writer import (
    _collect_stats,
    commit_snapshot,
    write_data_files,
    write_parquet_dataset,
)

POS_DELETE_SCHEMA = T.StructType(
    [
        T.StructField("file_path", T.StringType(), False,
                      metadata={ice_types.FIELD_ID_KEY: 2147483546}),
        T.StructField("pos", T.LongType(), False,
                      metadata={ice_types.FIELD_ID_KEY: 2147483545}),
    ]
)


def _branch_snapshot(tm: TableMetadata, branch: str | None):
    """The snapshot a DML should read: the branch head when ``branch``
    names an existing branch (WAP staging — a missing branch forks from
    main's head at commit time, matching the write path), else current.
    Works for filesystem tables, catalog RestTables (r12 — the REST
    commit asserts/sets the branch ref), and catalog TRANSACTIONS (r13 —
    several DMLs stage onto a branch atomically; commit CAS-asserts each
    touched ref's pre-transaction head)."""
    if branch and branch != "main":
        head = tm.branch_head(branch)
        if head is not None:
            return tm.snapshot_by_id(head)
    return tm.select_snapshot()


def _resolve_mode(tm: TableMetadata, explicit: str | None, prop: str) -> str:
    if explicit:
        return explicit
    return tm.properties.get(prop, "copy-on-write")


def _full_file_stats(task, schema_json):
    """stats_for callback over one task's data-file column stats."""
    fields_by_name = {f["name"]: f for f in schema_json["fields"]}
    df = task.data_file

    def stats_for(col: str) -> Optional[P.ColumnStats]:
        f = fields_by_name.get(col)
        if f is None:
            return None
        fid = f["id"]
        lower = upper = None
        if df.lower_bounds and fid in df.lower_bounds:
            lower = ice_types.decode_bound(f["type"], df.lower_bounds[fid])
        if df.upper_bounds and fid in df.upper_bounds:
            upper = ice_types.decode_bound(f["type"], df.upper_bounds[fid])
        nulls = (df.null_value_counts or {}).get(fid)
        values = (df.value_counts or {}).get(fid)
        if lower is None and upper is None and nulls is None:
            return None
        return P.ColumnStats(
            lower, upper,
            contains_null=nulls is None or nulls > 0,
            all_null=bool(values) and nulls == values,
        )

    return stats_for


def _pos_delete_parquet_bytes(fp: str, positions) -> bytes:
    """Serialize one positional-delete parquet (file_path, pos) with
    Iceberg's reserved field-ids; positions must be sorted per spec."""
    import io as _io

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        pa.field("file_path", pa.string(), nullable=False,
                 metadata={b"PARQUET:field_id": b"2147483546"}),
        pa.field("pos", pa.int64(), nullable=False,
                 metadata={b"PARQUET:field_id": b"2147483545"}),
    ])
    table = pa.Table.from_arrays(
        [pa.array([fp] * len(positions)), pa.array(positions)], schema=schema)
    buf = _io.BytesIO()
    pq.write_table(table, buf, compression="zstd")
    return buf.getvalue()


def _pos_delete_avro_bytes(fp: str, positions) -> bytes:
    """Serialize one positional-delete AVRO file (r14 —
    ``write.delete.format.default=avro``): same (file_path, pos) rows
    and reserved field-ids as the parquet shape, encoded by the
    package's pure-Python OCF codec. The r13 read plane already routes
    delete files by their RECORDED format, so these apply at scan like
    any other (the reference refuses non-parquet deletes entirely,
    iceberg_delete_file_scanner.cpp:393)."""
    import os as _os
    import tempfile

    from ..metadata import avro_io

    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "file_path", "field-id": 2147483546,
             "type": "string"},
            {"name": "pos", "field-id": 2147483545, "type": "long"},
        ]}
    recs = [{"file_path": fp, "pos": int(p)} for p in positions]
    tmp = tempfile.NamedTemporaryFile(suffix=".avro", delete=False)
    tmp.close()
    try:
        avro_io.write_avro_file(tmp.name, schema, recs)
        with open(tmp.name, "rb") as fh:
            return fh.read()
    finally:
        _os.unlink(tmp.name)


def _write_positional_deletes(
    spark: SparkSession, tm: TableMetadata, pairs: DataFrame,
    plan: ScanPlan | None = None,
) -> list[mf.DataFile]:
    """(file_path, pos) DataFrame → ONE positional-delete parquet per
    referenced data file, written executor-side (Arrow) with Iceberg's
    reserved field-ids, rows sorted by pos per spec.

    Per-file layout mirrors the reference (iceberg_delete.cpp buffers
    pairs per data file; its pruning benchmark
    prune_positional_deletes_from_unread_partitions.benchmark asserts a
    365-partition MoR scan of one day opens exactly ONE delete file):
    each manifest entry records ``referenced_data_file`` and the target's
    partition values, so planning applies a delete file to exactly its
    one data file — a partition-filtered scan never opens the other
    partitions' delete files. The write fans out as one applyInPandas
    group per data file (shuffle carries only the delta); the driver
    receives per-file summaries, never positions."""
    from ..fanout import worker_io
    from ..io import normalize_path

    # delete-file format (r14): explicit write.delete.format.default
    # only — parquet (default) or avro. NOT inherited from
    # write.format.default (Iceberg inherits; here an ORC data table
    # would then refuse its own deletes, so the divergence is the safer
    # semantic and is documented).
    dfmt = (tm.properties.get("write.delete.format.default")
            or "parquet").lower()
    if dfmt not in ("parquet", "avro"):
        raise NotImplementedError(
            f"write.delete.format.default={dfmt!r} unsupported for "
            "positional delete writes; supported: 'parquet', 'avro'")

    out_dir = fio.join(tm.data_path(), f"deletes-{str(_uuid.uuid4())[:8]}")
    io0 = fio.get_io(out_dir)
    io0.mkdirs(out_dir)
    install_io = worker_io(out_dir)

    def _write_group(pdf):
        import uuid as _u

        import pandas as pd

        # absolute imports: executes in executor Python workers
        from duckdb_iceberg_spark.io import get_io
        from duckdb_iceberg_spark.sources.dml import (
            _pos_delete_avro_bytes,
            _pos_delete_parquet_bytes,
        )

        install_io()
        fp = pdf["file_path"].iloc[0]
        positions = pdf["pos"].to_numpy(dtype="int64")
        positions.sort()
        encode = (_pos_delete_avro_bytes if dfmt == "avro"
                  else _pos_delete_parquet_bytes)
        data = encode(fp, positions)
        path = f"{out_dir}/{_u.uuid4()}-deletes.{dfmt}"
        get_io(path).write_bytes(path, data)
        return pd.DataFrame({
            "file_path": [fp], "out_path": [path],
            "record_count": [len(positions)], "file_size": [len(data)],
            "min_pos": [int(positions[0])], "max_pos": [int(positions[-1])],
        })

    if getattr(io0, "shippable", True):
        res = pairs.groupBy("file_path").applyInPandas(
            _write_group,
            "file_path string, out_path string, record_count long, "
            "file_size long, min_pos long, max_pos long").collect()
    else:
        # non-shippable IO (e.g. an in-memory test filesystem): executors
        # can't reach the store — collect the delta-sized pairs and write
        # per-file deletes on the driver (same layout, same entries)
        import types as _types

        import numpy as _np

        groups: dict[str, list[int]] = {}
        for r in pairs.collect():
            groups.setdefault(r.file_path, []).append(r.pos)
        res = []
        for fp, poss in groups.items():
            positions = _np.unique(_np.asarray(poss, dtype="int64"))
            data = (_pos_delete_avro_bytes(fp, positions) if dfmt == "avro"
                    else _pos_delete_parquet_bytes(fp, positions))
            path = f"{out_dir}/{_uuid.uuid4()}-deletes.{dfmt}"
            io0.write_bytes(path, data)
            res.append(_types.SimpleNamespace(
                file_path=fp, out_path=path, record_count=len(positions),
                file_size=len(data), min_pos=int(positions[0]),
                max_pos=int(positions[-1])))
    if not res:
        return []

    # target partition values (keys match the default spec when the data
    # file was written under it — referenced_data_file already gives exact
    # per-file targeting either way, partition values additionally feed the
    # delete manifest's field summaries for manifest-level pruning)
    part_by_path: dict[str, dict] = {}
    default_spec_id = tm.default_spec().spec_id
    for t in (plan.tasks if plan is not None else []):
        if t.spec_id == default_spec_id:
            part_by_path[normalize_path(t.data_file.file_path)] = \
                t.data_file.partition or {}

    import struct as _struct

    out = []
    for r in res:
        fp_b = r.file_path.encode("utf-8")
        out.append(
            mf.DataFile(
                content=mf.CONTENT_POSITION_DELETES,
                file_path=r.out_path,
                file_format=dfmt.upper(),
                partition=part_by_path.get(normalize_path(r.file_path), {}),
                record_count=r.record_count,
                file_size_in_bytes=r.file_size,
                lower_bounds={2147483546: fp_b,
                              2147483545: _struct.pack("<q", r.min_pos)},
                upper_bounds={2147483546: fp_b,
                              2147483545: _struct.pack("<q", r.max_pos)},
                referenced_data_file=r.file_path,
            )
        )
    return out


#: executor→driver schema for DV writes: entry STATS only — no blob/bitmap
#: bytes ever cross to the driver (asserted in tests/test_puffin.py)
_DV_STATS_SCHEMA = ("file_path string, out_path string, cardinality long, "
                    "file_size long, content_offset long, content_size long")


def _write_deletion_vectors(
    spark: SparkSession, tm: TableMetadata, pairs: DataFrame, plan: ScanPlan
) -> tuple[list[mf.DataFile], set[str]]:
    """v3 deletes: (file_path, pos) pairs → one Puffin file per affected
    data file, each holding that file's deletion-vector-v1 blob
    (reference: iceberg_delete.cpp:165-206 WriteDeletionVectorFile).
    Positions from a file's prior DV are merged in and the old DV is
    superseded — the spec allows at most one DV per data file ("two DVs =
    corrupt", iceberg_multi_file_list.cpp:24-63). Prior positional-delete
    *parquet* (mixed v2 history) is left in place; it still applies at
    read.

    Scale shape: bitmaps are built, roaring-compressed AND written to
    Puffin files PER DATA FILE on executors (applyInPandas over
    groupBy(file_path), mirroring the positional path's _write_group);
    prior DVs merge in executor-side too. The driver collects ONLY entry
    stats — (path, referenced data file, cardinality, offsets) — so a
    wide DELETE over many files never materializes a bitmap in driver
    memory. rewrite_manifests/compaction consolidate the per-file Puffins
    when file counts matter."""
    from ..metadata import puffin as pf
    from .. import io as fio
    from ..fanout import worker_io

    # prior DV per affected data file, merged on executors (the spec allows
    # at most one DV per data file, so the old blob is superseded). Keys are
    # normalized like the pairs' file_path column (which comes from the
    # scan's canonicalized filename).
    from ..io import normalize_path

    prior: dict[str, tuple[str, int, int]] = {}
    replaced_by_file: dict[str, str] = {}
    for t in plan.tasks:
        fp = normalize_path(t.data_file.file_path)
        for d in t.positional_deletes:
            if (d.file_format or "").lower() == "puffin":
                prior[fp] = (d.file_path, int(d.content_offset or 0),
                             int(d.content_size_in_bytes or 0))
                replaced_by_file[fp] = d.file_path

    dv_dir = fio.join(tm.data_path(), f"dv-{str(_uuid.uuid4())[:8]}")
    io0 = fio.get_io(dv_dir)
    io0.mkdirs(dv_dir)
    # the IO that reads prior DVs, then the one that writes the new Puffin
    install_io = worker_io(*(p for p, _, _ in prior.values()), dv_dir)

    def _build(pdf):
        import uuid as _u

        import numpy as np
        import pandas as pd

        # absolute imports: this closure executes in executor Python workers,
        # where relative-import context is not preserved by pickling
        from duckdb_iceberg_spark.io import get_io
        from duckdb_iceberg_spark.metadata import puffin as pf

        fp = pdf["file_path"].iloc[0]
        positions = np.unique(pdf["pos"].to_numpy(dtype=np.int64))
        pr = prior.get(fp)
        if pr is not None:
            puffin_path, off, length = pr
            prev = pf.read_dv_positions(
                puffin_path, off if length else None,
                length if length else None, fp)
            positions = np.union1d(positions, prev)
        blob = pf.serialize_dv_blob(positions)
        out_path = f"{dv_dir}/{_u.uuid4()}-dv.puffin"
        written = pf.write_puffin_serialized_dvs(
            out_path, {fp: (blob, int(positions.size))})
        b = written[fp]
        return pd.DataFrame({
            "file_path": [fp],
            "out_path": [out_path],
            "cardinality": [int(positions.size)],
            "file_size": [int(get_io(out_path).size(out_path))],
            "content_offset": [int(b.offset)],
            "content_size": [int(b.length)],
        })

    def _build_on_executor(pdf):
        # rebuild the driver's (possibly vended) IO in the executor Python
        # worker for reading prior DVs and writing the new Puffin — ONLY
        # here: the driver fallback below must not clobber the driver's
        # already-registered IO (e.g. a test's mock object store)
        install_io()
        return _build(pdf)

    keyed = pairs.select(F.col("file_path"),
                         F.col("pos").cast(T.LongType()).alias("pos"))
    if getattr(io0, "shippable", True):
        rows = (
            keyed.groupBy("file_path")
            .applyInPandas(_build_on_executor, _DV_STATS_SCHEMA)
            .collect()
        )
    else:
        # non-shippable IO (e.g. an in-memory test filesystem): executors
        # can't reach the store — collect the delta-sized pairs and build
        # the same per-file Puffin layout on the driver
        import numpy as _np
        import pandas as _pd

        groups: dict[str, list[int]] = {}
        for r in keyed.collect():
            groups.setdefault(r.file_path, []).append(r.pos)
        rows = []
        for fp in sorted(groups):
            out = _build(_pd.DataFrame(
                {"file_path": [fp] * len(groups[fp]),
                 "pos": _np.asarray(groups[fp], dtype="int64")}))
            rows.append(out.iloc[0])
    if not rows:
        return [], set()
    # Supersession is per DATA FILE, not per Puffin file: a prior Puffin may
    # hold DVs for data files this DELETE never touched, and dropping the
    # whole Puffin path from the delete manifests would resurrect those
    # files' deleted rows (their blobs were merged into nothing). The commit
    # drops only delete entries whose referenced_data_file is in this set;
    # untouched blobs in the same Puffin stay live at their old offsets.
    superseded = {r.file_path for r in rows if r.file_path in replaced_by_file}

    entries = []
    for r in sorted(rows, key=lambda r: r.file_path):
        entries.append(mf.DataFile(
            content=mf.CONTENT_POSITION_DELETES,
            file_path=r.out_path,
            file_format="puffin",
            partition={},
            record_count=int(r.cardinality),
            file_size_in_bytes=int(r.file_size),
            referenced_data_file=r.file_path,
            content_offset=int(r.content_offset),
            content_size_in_bytes=int(r.content_size),
        ))
    return entries, superseded


#: equality-delete key rows per output file; a CDC batch of hundreds of
#: millions of keys fans out over multiple writers instead of one task
_EQ_KEYS_PER_FILE = 5_000_000


def _shape_delete_keys(rows: DataFrame, key_columns: list[str], n: int) -> DataFrame:
    """Partition an equality-delete key set for writing: small sets stay one
    file; large sets range-partition on the key columns so each output file
    gets tight, prunable bounds and no single task serializes the batch."""
    nparts = max(1, min(64, (n - 1) // _EQ_KEYS_PER_FILE + 1))
    if nparts == 1:
        return rows.coalesce(1)
    return (rows.repartitionByRange(nparts, *[F.col(c) for c in key_columns])
            .sortWithinPartitions(*key_columns))


def _write_eq_delete_files(spark, tm, rows, out_dir, proj_fields):
    """Write equality-delete KEY rows in the table's delete-file format
    (r14): ``write.delete.format.default`` = parquet (default) or avro —
    the avro side is the Flink-connector shape (its avro tables write
    avro equality deletes; the reference reads/writes neither). Returns
    (stats, file_format). Avro stats skip bounds for NESTED key
    projections (absent bounds only cost pruning, never correctness)."""
    dfmt = (tm.properties.get("write.delete.format.default")
            or "parquet").lower()
    if dfmt == "avro":
        from .writer import write_avro_dataset

        stats = write_avro_dataset(spark, rows, out_dir,
                                   {"fields": proj_fields})
        return [st for st in stats if st["record_count"]], "AVRO"
    if dfmt != "parquet":
        raise NotImplementedError(
            f"write.delete.format.default={dfmt!r} unsupported for "
            "equality-delete writes; supported: 'parquet', 'avro'")
    paths = write_parquet_dataset(spark, rows, out_dir)
    return ([st for st in _collect_stats(spark, paths)
             if st["record_count"]], "PARQUET")


def equality_delete(
    spark: SparkSession,
    location: str,
    keys: DataFrame,
    key_columns: list[str] | None = None,
) -> TableMetadata:
    """Write an equality-delete file: every table row whose key columns
    match ANY row of ``keys`` is deleted, merge-on-read, without touching
    data files (reference: equality_delete_helpers.cpp:33-70, write gated
    behind ICEBERG_ENABLE_EQUALITY_DELETE_WRITES).

    The delete file stores only the key rows; equality_ids carries the
    table field-ids of the key columns. Sequence-number semantics make it
    apply strictly to EARLIER data files (delete.seq > data.seq), so rows
    appended afterwards with the same keys survive — exactly the CDC upsert
    contract. ``location`` may be a path or a catalog ``RestTable``."""
    table = resolve_table(location)
    tm = table.metadata
    key_columns = key_columns or keys.columns
    schema_json = tm.schema_json()

    def _resolve(path: str) -> dict:
        fields = schema_json["fields"]
        parts = path.split(".")
        for p in parts[:-1]:
            parent = next((f for f in fields if f["name"] == p), None)
            if parent is None or not (isinstance(parent["type"], dict)
                                      and parent["type"].get("type") == "struct"):
                raise ValueError(
                    f"equality-delete column {path!r} not in table schema")
            fields = parent["type"]["fields"]
        leaf = next((f for f in fields if f["name"] == parts[-1]), None)
        if leaf is None:
            raise ValueError(
                f"equality-delete column {path!r} not in table schema")
        return leaf

    leaves = [_resolve(c) for c in key_columns]
    eq_ids = [f["id"] for f in leaves]

    def _pick(i: int, c: str) -> Column:
        # the caller's key DataFrame column: full dotted name, bare leaf
        # name, or positional (for nested paths whose leaf isn't a column)
        if c in keys.columns:
            return F.col(c)
        leaf_name = c.split(".")[-1]
        if leaf_name in keys.columns:
            return F.col(leaf_name)
        return F.col(keys.columns[i])

    # delete-file schema = nested projection of the row schema keeping the
    # key leaves with their ancestor structs (spec; the reference's nested
    # test stores equality_ids=[deepest leaf id] — see
    # test_equality_delete_struct_field.test)
    tree: dict = {}
    for i, c in enumerate(key_columns):
        node = tree
        parts = c.split(".")
        for p in parts[:-1]:
            node = node.setdefault(p, {})
        node[parts[-1]] = _pick(i, c).cast(
            ice_types.iceberg_to_spark(leaves[i]["type"]))

    def _assemble(node: dict, fields_json: list) -> list[Column]:
        cols = []
        for f in fields_json:
            if f["name"] not in node:
                continue
            v = node[f["name"]]
            col = (F.struct(*_assemble(v, f["type"]["fields"]))
                   if isinstance(v, dict) else v)
            cols.append(col.alias(
                f["name"], metadata={ice_types.FIELD_ID_KEY: f["id"]}))
        return cols

    top_cols = []
    for c in key_columns:
        top = c.split(".")[0]
        if top not in top_cols:
            top_cols.append(top)

    def _project_fields(node: dict, fields_json: list) -> list:
        out = []
        for f in fields_json:
            if f["name"] not in node:
                continue
            v = node[f["name"]]
            t = ({"type": "struct",
                  "fields": _project_fields(v, f["type"]["fields"])}
                 if isinstance(v, dict) else f["type"])
            out.append({"id": f["id"], "name": f["name"],
                        "required": False, "type": t})
        return out

    out_dir = fio.join(tm.data_path(), f"eq-deletes-{str(_uuid.uuid4())[:8]}")
    rows = keys.select(*_assemble(tree, schema_json["fields"])) \
        .dropDuplicates().persist()
    try:
        n = rows.count()
        stats, dfile_fmt = _write_eq_delete_files(
            spark, tm, _shape_delete_keys(rows, top_cols, n), out_dir,
            _project_fields(tree, schema_json["fields"]))
    finally:
        rows.unpersist()
    types_by_fid = {f["id"]: f["type"] for f in leaves}
    delete_files = []
    for st in stats:
        lower, upper = {}, {}
        for fid, v in st["mins"].items():
            b = _stat_bound(v, types_by_fid.get(fid))
            if b is not None:
                lower[fid] = b
        for fid, v in st["maxs"].items():
            b = _stat_bound(v, types_by_fid.get(fid))
            if b is not None:
                upper[fid] = b
        delete_files.append(mf.DataFile(
            content=mf.CONTENT_EQUALITY_DELETES,
            file_path=st["path"],
            file_format=dfile_fmt,
            partition={},
            record_count=st["record_count"],
            file_size_in_bytes=st["file_size"],
            lower_bounds=lower or None,
            upper_bounds=upper or None,
            null_value_counts=st["null_counts"] or None,
            equality_ids=eq_ids,
        ))
    if not delete_files:
        return tm
    commit_snapshot(tm, operation="delete", new_delete_files=delete_files,
                    commit_fn=committer(table, "delete"))
    return table.metadata


def upsert_equality(
    spark: SparkSession,
    location: str,
    df: DataFrame,
    key_columns: list[str],
    *,
    snapshot_properties: dict[str, str] | None = None,
) -> TableMetadata:
    """CDC-style merge-on-read upsert (the Flink-connector pattern): ONE
    snapshot carrying an equality-delete file for the incoming keys plus
    the new data files. Old rows with those keys vanish (delete.seq >
    data.seq), the new rows live in files at the same sequence number and
    are untouched by it. ``location`` may be a path or a catalog
    ``RestTable``."""
    table = resolve_table(location)
    tm = table.metadata
    schema_json = tm.schema_json()
    by_name = {f["name"]: f for f in schema_json["fields"]}
    eq_ids = [by_name[c]["id"] for c in key_columns]

    out_dir = fio.join(tm.data_path(), f"eq-deletes-{str(_uuid.uuid4())[:8]}")
    keys = df.select(*[
        F.col(c).cast(ice_types.iceberg_to_spark(by_name[c]["type"]))
        .alias(c, metadata={ice_types.FIELD_ID_KEY: by_name[c]["id"]})
        for c in key_columns
    ]).dropDuplicates().persist()
    try:
        n = keys.count()
        stats, dfile_fmt = _write_eq_delete_files(
            spark, tm, _shape_delete_keys(keys, key_columns, n), out_dir,
            [{"id": by_name[c]["id"], "name": c, "required": False,
              "type": by_name[c]["type"]} for c in key_columns])
    finally:
        keys.unpersist()
    types_by_fid = {by_name[c]["id"]: by_name[c]["type"] for c in key_columns}
    delete_files = []
    for st in stats:
        lower = {fid: b for fid, v in st["mins"].items()
                 if (b := _stat_bound(v, types_by_fid.get(fid))) is not None}
        upper = {fid: b for fid, v in st["maxs"].items()
                 if (b := _stat_bound(v, types_by_fid.get(fid))) is not None}
        delete_files.append(mf.DataFile(
            content=mf.CONTENT_EQUALITY_DELETES,
            file_path=st["path"], file_format=dfile_fmt, partition={},
            record_count=st["record_count"], file_size_in_bytes=st["file_size"],
            lower_bounds=lower or None, upper_bounds=upper or None,
            null_value_counts=st["null_counts"] or None,
            equality_ids=eq_ids,
        ))
    new_files, _root = write_data_files(spark, df, tm)
    commit_snapshot(tm, operation="overwrite",
                    new_data_files=new_files, new_delete_files=delete_files,
                    commit_fn=committer(table, "overwrite"),
                    extra_summary=snapshot_properties)
    return table.metadata


def _write_row_deletes(
    spark: SparkSession, tm: TableMetadata, pairs: DataFrame, plan: ScanPlan
) -> tuple[list[mf.DataFile], set[str]]:
    """Dispatch on format version: v3 → Puffin deletion vectors,
    v1/v2 → positional-delete parquet (format switch mirrors
    iceberg_delete.cpp:313,350-372)."""
    if tm.format_version >= 3:
        return _write_deletion_vectors(spark, tm, pairs, plan)
    return _write_positional_deletes(spark, tm, pairs, plan), set()


def _stat_bound(v: Any, ice_type: str | None = None) -> bytes | None:
    """Serialize a footer min/max into the spec's single-value binary form.
    With a known Iceberg type, use the exact encoding (an ``int`` bound is
    4 bytes, not 8 — decode_bound and foreign readers require it); the
    typeless fallback covers long/string only."""
    if ice_type is not None and isinstance(ice_type, str):
        try:
            return ice_types.encode_bound(ice_type, v)
        except (ValueError, TypeError, ArithmeticError):
            return None
    if isinstance(v, bytes):
        try:
            v = v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        if len(v) > 200:
            return None
        return v.encode("utf-8")
    if isinstance(v, int):
        import struct

        return struct.pack("<q", v)
    return None


def delete_from(
    spark: SparkSession,
    location: str,
    where: str,
    *,
    mode: str | None = None,
    branch: str | None = None,
) -> TableMetadata:
    """DELETE FROM table WHERE … (reference: iceberg_delete.cpp).
    ``location`` may be a path or a catalog ``RestTable`` (snapshot then
    commits through the catalog, not the filesystem metadata log).
    ``branch`` stages the delete on a branch ref (WAP)."""
    table = resolve_table(location)
    tm = table.metadata
    snapshot = _branch_snapshot(tm, branch)
    plan = plan_scan(tm, snapshot, where)
    if not plan.tasks:
        return tm  # nothing can match: no-op, no new snapshot
    mode = _resolve_mode(tm, mode, "write.delete.mode")
    schema_json = plan.schema_json
    pred = P.parse_where(where)

    if mode == "merge-on-read":
        df = scan_to_dataframe(spark, plan, with_file_info=True)
        pairs = df.filter(F.expr(where)).select(
            F.col("filename").alias("file_path"),
            F.col("file_row_number").alias("pos"),
        )
        delete_files, superseded = _write_row_deletes(spark, tm, pairs, plan)
        if not delete_files:
            return tm
        commit_snapshot(tm, operation="delete", new_delete_files=delete_files,
                        superseded_dv_refs=superseded or None,
                        commit_fn=committer(table, "delete"),
                        branch=branch)
        return table.metadata

    # copy-on-write: drop provably-all-match files, rewrite the rest
    drop_paths: set[str] = set()
    rewrite_tasks = []
    coerced = _coerce_pred(pred, {f["name"]: f for f in schema_json["fields"]}) if pred else None
    for t in plan.tasks:
        if (
            coerced is not None
            and not t.has_deletes
            and P.definitely_matches(coerced, _full_file_stats(t, schema_json))
        ):
            drop_paths.add(t.data_file.file_path)
        else:
            rewrite_tasks.append(t)

    new_files: list[mf.DataFile] = []
    if rewrite_tasks:
        sub = ScanPlan(tm, snapshot, rewrite_tasks, None, plan.schema_id)
        remaining = scan_to_dataframe(spark, sub).filter(~F.expr(where) | F.expr(where).isNull())
        new_files, _ = write_data_files(spark, remaining, tm)
    removed = drop_paths | {t.data_file.file_path for t in rewrite_tasks}
    op = "delete" if not new_files else "overwrite"
    commit_snapshot(
        tm, operation=op,
        new_data_files=new_files, removed_data_paths=removed,
        commit_fn=committer(table, op),
        branch=branch,
    )
    return table.metadata


def delete_using(
    spark: SparkSession,
    location: str,
    using: DataFrame,
    condition: str,
    *,
    mode: str | None = None,
    branch: str | None = None,
) -> TableMetadata:
    """DELETE FROM table USING <rel> WHERE <condition> — delete every
    target row with at least one ``using`` match (reference:
    delete/delete_join.test: ``DELETE FROM test USING deleted_rows WHERE
    id=deleted_rows.delete_id``). ``condition`` references target columns
    bare (or ``tgt.``-qualified) and ``using`` columns ``src.``-qualified,
    the same convention as MERGE clauses.

    Scale shape: one semi-join of the target scan against the source
    relation decides victims — Spark distributes it (broadcast when the
    source is small, shuffled otherwise); no driver-side row collects.
    CoW additionally collects only the distinct victim FILE paths
    (metadata-sized) to bound the rewrite to affected files."""
    table = resolve_table(location)
    tm = table.metadata
    snapshot = _branch_snapshot(tm, branch)
    plan = plan_scan(tm, snapshot, None)
    if not plan.tasks:
        return tm
    mode = _resolve_mode(tm, mode, "write.delete.mode")
    cond = F.expr(condition)

    df = scan_to_dataframe(spark, plan, with_file_info=True)
    # r15: size the USING side from statistics (engine scan plan if it
    # is one of our scans, Spark's estimate otherwise) — broadcast only
    # under the threshold, else pin a merge join so Spark's static
    # estimate can't mis-broadcast a fact-sized source
    from ..plans.join_strategy import apply_side_hint, decide_broadcast

    bcast = decide_broadcast(using, spark)
    matched = df.alias("tgt").join(
        apply_side_hint(using.alias("src"), bcast), cond, "leftsemi")
    pairs = matched.select(
        F.col("filename").alias("file_path"),
        F.col("file_row_number").alias("pos"),
    )

    if mode == "merge-on-read":
        delete_files, superseded = _write_row_deletes(spark, tm, pairs, plan)
        if not delete_files:
            return tm
        commit_snapshot(tm, operation="delete", new_delete_files=delete_files,
                        superseded_dv_refs=superseded or None,
                        commit_fn=committer(table, "delete"),
                        branch=branch)
        return table.metadata

    # copy-on-write: rewrite only files that lost rows, keeping survivors
    victim_files = {r.file_path for r in
                    pairs.select("file_path").distinct().collect()}
    if not victim_files:
        return tm
    rewrite_tasks = [t for t in plan.tasks
                     if _norm_path_py(t.data_file.file_path) in victim_files
                     or t.data_file.file_path in victim_files]
    sub = ScanPlan(tm, snapshot, rewrite_tasks, None, plan.schema_id)
    remaining = (
        scan_to_dataframe(spark, sub).alias("tgt")
        .join(apply_side_hint(using.alias("src"), bcast), cond,
              "left_anti")
    )
    new_files, _ = write_data_files(spark, remaining, tm)
    removed = {t.data_file.file_path for t in rewrite_tasks}
    op = "delete" if not new_files else "overwrite"
    commit_snapshot(
        tm, operation=op,
        new_data_files=new_files, removed_data_paths=removed,
        commit_fn=committer(table, op),
        branch=branch,
    )
    return table.metadata


def update_iceberg(
    spark: SparkSession,
    location: str,
    assignments: Mapping[str, Any],
    where: str | None = None,
    *,
    mode: str | None = None,
    branch: str | None = None,
) -> TableMetadata:
    """UPDATE table SET col = expr … WHERE … — delete+insert in ONE snapshot
    (reference: iceberg_update.cpp:46-66, AddUpdateSnapshot
    iceberg_insert.cpp:306-317). ``location`` may be a path or a catalog
    ``RestTable``. ``branch`` stages the update on a branch ref (WAP)."""
    table = resolve_table(location)
    tm = table.metadata
    snapshot = _branch_snapshot(tm, branch)
    plan = plan_scan(tm, snapshot, where)
    if not plan.tasks:
        return tm
    mode = _resolve_mode(tm, mode, "write.update.mode")
    cond = F.expr(where) if where else F.lit(True)
    defaults = _merge_defaults(tm.schema_json())

    def apply_set(df: DataFrame, only_matched: bool) -> DataFrame:
        for col, expr in assignments.items():
            if expr is None:
                val = F.lit(None)
            else:
                # SET col = DEFAULT resolves the write-default (reference:
                # update_with_default.test)
                val = _merge_expr(expr, col, defaults)
            df = df.withColumn(col, val if only_matched else F.when(cond, val).otherwise(F.col(col)))
        return df

    if mode == "merge-on-read":
        df = scan_to_dataframe(spark, plan, with_file_info=True)
        matched = df.filter(cond)
        pairs = matched.select(
            F.col("filename").alias("file_path"), F.col("file_row_number").alias("pos")
        )
        delete_files, superseded = _write_row_deletes(spark, tm, pairs, plan)
        if not delete_files:
            return tm
        cols = [f.name for f in plan.spark_schema().fields]
        new_rows = apply_set(matched.select(*cols), only_matched=True)
        new_files, _ = write_data_files(spark, new_rows, tm)
        commit_snapshot(tm, operation="overwrite", new_data_files=new_files,
                        new_delete_files=delete_files,
                        superseded_dv_refs=superseded or None,
                        commit_fn=committer(table, "overwrite"),
                        branch=branch)
        return table.metadata

    # copy-on-write: rewrite candidate files with the SET applied to matches
    sub = ScanPlan(tm, snapshot, plan.tasks, None, plan.schema_id)
    df = scan_to_dataframe(spark, sub)
    rewritten = apply_set(df, only_matched=False)
    new_files, _ = write_data_files(spark, rewritten, tm)
    removed = {t.data_file.file_path for t in plan.tasks}
    commit_snapshot(tm, operation="overwrite", new_data_files=new_files,
                    removed_data_paths=removed,
                    commit_fn=committer(table, "overwrite"),
                    branch=branch)
    return table.metadata


@dataclass
class MergeClause:
    """One WHEN clause of a MERGE INTO, evaluated in declaration order with
    first-match-wins per the SQL standard (the reference stores the same
    per-action condition: merge_into/iceberg_merge_into.cpp:143
    ``result->condition``; conditional-clause tests:
    merge/merge_into_multiple_update_delete_actions.test:60-75,
    merge/merge_partition.test:88).

    ``match``: ``"matched"`` (WHEN MATCHED), ``"not_matched"`` (WHEN NOT
    MATCHED [BY TARGET] — a source row with no target match), or
    ``"not_matched_by_source"`` (a target row with no source match).
    ``action``: matched/not_matched_by_source allow ``update``/``delete``/
    ``nothing``/``error``; not_matched allows ``insert``/``nothing``/
    ``error``.
    ``condition``: optional AND condition over the joined row — target
    columns as ``tgt.<col>``, source columns as ``src.<col>`` (source refs
    are invalid on not_matched_by_source clauses, target refs on
    not_matched clauses).
    ``assignments``: UPDATE SET / INSERT VALUES mapping (col → Column or
    SQL string); ``True`` for INSERT * (positional from source columns).

    Unlike the reference — which raises "only supports a single
    UPDATE/DELETE action currently" above one update/delete clause — any
    number of clauses is supported; results match the reference test's
    documented expected-result-when-lifted block."""

    match: str
    action: str
    condition: Any = None  # str | Column | None
    assignments: Any = None  # Mapping[str, Any] | bool | None

    def __post_init__(self):
        allowed = {
            "matched": {"update", "delete", "nothing", "error"},
            "not_matched": {"insert", "nothing", "error"},
            "not_matched_by_source": {"update", "delete", "nothing", "error"},
        }
        if self.match not in allowed:
            raise ValueError(f"unknown MERGE clause match kind {self.match!r}")
        if self.action not in allowed[self.match]:
            raise ValueError(
                f"MERGE WHEN {self.match} cannot {self.action.upper()}")
        if self.action == "update" and not self.assignments:
            raise ValueError("UPDATE clause needs assignments")
        if self.action == "insert" and not self.assignments:
            raise ValueError("INSERT clause needs assignments (True for INSERT *)")

    def condition_col(self) -> Column:
        if self.condition is None:
            return F.lit(True)
        return (self.condition if isinstance(self.condition, Column)
                else F.expr(str(self.condition)))


def _legacy_clauses(when_matched_update, when_matched_delete,
                    when_not_matched_insert) -> list[MergeClause]:
    """Kwarg surface of rounds 1-4 expressed as unconditional clauses."""
    out: list[MergeClause] = []
    if when_matched_update is not None:
        out.append(MergeClause("matched", "update",
                               assignments=when_matched_update))
    if when_matched_delete:
        out.append(MergeClause("matched", "delete"))
    if when_not_matched_insert:
        out.append(MergeClause("not_matched", "insert",
                               assignments=when_not_matched_insert))
    return out


def _fired_col(clauses: list[MergeClause], is_matched: Column) -> Column:
    """Index of the first target-side clause that fires for a joined row
    (-1 = none): matched clauses gate on is_matched, not-matched-by-source
    on ~is_matched, each ANDed with its own condition — one codegen'd CASE
    chain, no Python in the row path."""
    expr = None
    for i, c in enumerate(clauses):
        if c.match == "not_matched":
            continue
        gate = (is_matched if c.match == "matched" else ~is_matched) \
            & c.condition_col()
        expr = F.when(gate, i) if expr is None else expr.when(gate, i)
    return expr.otherwise(F.lit(-1)) if expr is not None else F.lit(-1)


def _merge_defaults(schema_json: dict) -> dict:
    """col name → Column producing its ``write-default`` (spec v3 column
    defaults; reference: merge_into_default.test — DEFAULT in INSERT/SET
    and omitted INSERT columns resolve to it, not NULL). An absent
    write-default falls back to ``initial-default``: the spec has no
    explicit null write-default, so DROP DEFAULT re-exposes the creation
    default (reference documents the quirk in alter_default.test)."""
    out: dict[str, Column] = {}
    for f in schema_json["fields"]:
        dv = f.get("write-default", f.get("initial-default"))
        if dv is not None and isinstance(f["type"], str):
            v = ice_types.json_default_to_python(f["type"], dv)
            out[f["name"]] = F.lit(v).cast(
                ice_types.iceberg_to_spark(f["type"]))
    return out


def _default_col(col: str, defaults: dict) -> Column:
    return defaults[col] if col in defaults else F.lit(None)


def _merge_expr(v, col: str, defaults: dict) -> Column:
    """An assignment value: a Column, the DEFAULT keyword (bare, never a
    quoted string literal — quotes survive parsing), or a SQL expression."""
    if isinstance(v, Column):
        return v
    if isinstance(v, str) and v.strip().upper() == "DEFAULT":
        return _default_col(col, defaults)
    return F.expr(str(v))


def _update_value(clauses: list[MergeClause], idxs: list[int], col: str,
                  fired: Column, defaults: dict) -> Column:
    """Column value after applying whichever UPDATE clause fired (target's
    own value when none did or the firing clause doesn't SET this column)."""
    expr = None
    for i in idxs:
        assigns = clauses[i].assignments
        if col in assigns:
            val = _merge_expr(assigns[col], col, defaults)
            expr = (F.when(fired == i, val) if expr is None
                    else expr.when(fired == i, val))
    base = F.col(f"tgt.{col}")
    return (expr.otherwise(base) if expr is not None else base).alias(col)


def _raise_if_error_clause_fires(joined: DataFrame, fired: Column,
                                 clauses: list[MergeClause],
                                 err_idxs: list[int]) -> None:
    """WHEN ... THEN ERROR (reference MERGE_ERROR action): any row routed to
    an error clause aborts the merge before a byte is written."""
    if not err_idxs:
        return
    hit = joined.select(fired.alias("__f")).filter(
        F.col("__f").isin(err_idxs)).limit(1).collect()
    if hit:
        c = clauses[hit[0][0]]
        raise ValueError(
            f"MERGE INTO: row reached WHEN "
            f"{c.match.replace('_', ' ')}"
            f"{' AND ' + str(c.condition) if c.condition is not None else ''}"
            " THEN ERROR")


def _insert_parts(clauses: list[MergeClause], inserts: DataFrame,
                  schema: list[str], defaults: dict) -> list[DataFrame]:
    """Route each unmatched source row to its first firing not_matched
    clause; one DataFrame per INSERT clause (nothing-clauses swallow rows,
    error clauses were checked by the caller). Columns an INSERT doesn't
    provide — and the DEFAULT keyword — take the column's write-default
    (NULL when none; reference: merge_into_default.test)."""
    nm = [(i, c) for i, c in enumerate(clauses) if c.match == "not_matched"]
    if not nm:
        return []
    expr = None
    for i, c in nm:
        expr = (F.when(c.condition_col(), i) if expr is None
                else expr.when(c.condition_col(), i))
    ins_fired = expr.otherwise(F.lit(-1))
    routed = inserts.withColumn("__ins_fired", ins_fired)
    parts: list[DataFrame] = []
    for i, c in nm:
        if c.action != "insert":
            continue
        sub = routed.filter(F.col("__ins_fired") == i)
        if c.assignments is True:
            cols = [(F.col(x) if x in inserts.columns
                     else _default_col(x, defaults)).alias(x)
                    for x in schema]
        elif c.assignments == "DEFAULT VALUES":
            cols = [_default_col(x, defaults).alias(x) for x in schema]
        elif isinstance(c.assignments, (list, tuple)):
            # positional INSERT VALUES (...): mapped to target column order
            if len(c.assignments) != len(schema):
                raise ValueError(
                    f"INSERT VALUES has {len(c.assignments)} expressions for "
                    f"{len(schema)} target columns")
            cols = [_merge_expr(v, x, defaults).alias(x)
                    for x, v in zip(schema, c.assignments)]
        else:
            cols = []
            for x in schema:
                if x in c.assignments:
                    cols.append(_merge_expr(c.assignments[x], x,
                                            defaults).alias(x))
                else:
                    cols.append(_default_col(x, defaults).alias(x))
        parts.append(sub.select(*cols))
    return parts


def merge_into(
    spark: SparkSession,
    location: str,
    source: DataFrame,
    on: str,
    *,
    clauses: list[MergeClause] | None = None,
    when_matched_update: Mapping[str, Any] | None = None,
    when_matched_delete: bool = False,
    when_not_matched_insert: Mapping[str, Any] | bool | None = None,
    mode: str | None = None,
    broadcast_source: bool | None = None,
    branch: str | None = None,
) -> TableMetadata:
    """MERGE INTO target USING source ON cond — all WHEN clauses share one
    join of source and target (reference:
    merge_into/iceberg_merge_into.cpp:136-266).

    ``clauses`` is the full surface: an ordered list of
    :class:`MergeClause` (WHEN [NOT] MATCHED [BY SOURCE] [AND cond] THEN
    UPDATE/DELETE/INSERT/DO NOTHING/ERROR), first matching clause wins per
    row. The ``when_*`` kwargs remain as sugar for the common
    unconditional update/delete/insert shapes and may not be combined
    with ``clauses``.

    ``on`` references target columns bare and source columns as ``src.<col>``
    (source is registered with alias ``src``; target alias ``tgt``).

    Copy-on-write rewrites only the target files containing affected rows;
    merge-on-read (``mode='merge-on-read'`` or table property
    ``write.merge.mode``) instead writes row deletes for the affected rows
    (Puffin DVs on v3, positional parquet on v2) plus data files holding
    the updated/inserted rows — one snapshot, O(delta) write volume.

    A target row matched by more than one source row — where an
    update/delete clause actually fires — is a cardinality violation (SQL
    standard; Iceberg and the reference raise), detected via a count over
    the affected (file, row) pairs and raised before any write.

    ``broadcast_source`` hints the source side of every target⋈source
    join; the normal MERGE source is delta-sized, and the hint keeps the
    target from shuffling. The default ``None`` decides from STATISTICS
    (r15, plans/join_strategy.py — VERDICT r14 task 4): an engine scan
    plan attached to the source sizes it from manifest byte/row counts
    (delete cardinality subtracted), otherwise Spark's optimized-plan
    estimate, compared against ``autoBroadcastJoinThreshold``; unknown
    or over-threshold sources get ``.hint("merge")``, which also STOPS
    Spark's own static estimate from mis-broadcasting them (the r13
    five-query defect class). Pass ``True``/``False`` to force.

    ``location`` may be a path or a catalog ``RestTable`` (the snapshot
    then commits through the catalog)."""
    if clauses is not None and (when_matched_update is not None
                                or when_matched_delete
                                or when_not_matched_insert):
        raise ValueError("pass either clauses= or when_* kwargs, not both")
    if clauses is None:
        clauses = _legacy_clauses(when_matched_update, when_matched_delete,
                                  when_not_matched_insert)
    if not clauses:
        raise ValueError("MERGE INTO needs at least one WHEN clause")

    table = resolve_table(location)
    tm = table.metadata
    snapshot = _branch_snapshot(tm, branch)
    plan = plan_scan(tm, snapshot, None)
    schema = [f.name for f in
              ice_types.schema_to_struct(plan.schema_json).fields]

    # bare `THEN UPDATE`: every target column takes the same-named source
    # column (reference: merge_partition.test `WHEN MATCHED THEN UPDATE`)
    for c in clauses:
        if c.action == "update" and c.assignments is True:
            c.assignments = {x: F.col(f"src.{x}")
                             for x in source.columns if x in schema}
    # write-defaults: DEFAULT keyword and omitted INSERT columns
    defaults = _merge_defaults(plan.schema_json)

    target = scan_to_dataframe(spark, plan, with_file_info=True).alias("tgt")
    # plain source for anti-joins (source is the stream side there — a
    # broadcast hint is unsupported noise); hinted source where it's the
    # build side of a target⋈source join
    src_plain = source.alias("src")
    from ..plans.join_strategy import apply_side_hint, decide_broadcast

    if broadcast_source is None:
        broadcast_source = decide_broadcast(source, spark)
    src = apply_side_hint(src_plain, broadcast_source)
    cond = F.expr(on)
    mode = _resolve_mode(tm, mode, "write.merge.mode")

    upd_idx = [i for i, c in enumerate(clauses)
               if c.match != "not_matched" and c.action == "update"]
    del_idx = [i for i, c in enumerate(clauses)
               if c.match != "not_matched" and c.action == "delete"]
    err_idx = [i for i, c in enumerate(clauses)
               if c.match != "not_matched" and c.action == "error"]
    touch_idx = upd_idx + del_idx

    marker = "__merge_src_marker"
    src_m = src.withColumn(marker, F.lit(1)).alias("src")
    is_matched = F.col(marker).isNotNull()
    fired = _fired_col(clauses, is_matched)

    # one planning pass over the join: rows routed to an ERROR clause
    # abort; rows routed to update/delete name the files to rewrite (CoW)
    # or the (file, pos) row deletes (MoR); duplicate-matched rows that
    # actually fire an update/delete violate SQL-standard cardinality.
    # Without NOT MATCHED BY SOURCE clauses only matched rows can fire, so
    # the planning join is INNER — the delta-sized matched set, not every
    # target row, flows through the fired-clause routing
    join_how = ("left_outer"
                if any(c.match == "not_matched_by_source" for c in clauses)
                else "inner")
    joined_fi = target.join(src_m, cond, join_how) \
        .withColumn("__fired", fired)
    _raise_if_error_clause_fires(joined_fi, F.col("__fired"), clauses, err_idx)

    affected_rows = joined_fi.filter(F.col("__fired").isin(touch_idx)) \
        if touch_idx else None
    if affected_rows is not None:
        _check_merge_cardinality(
            affected_rows.filter(is_matched).select(
                F.col("tgt.filename").alias("file_path"),
                F.col("tgt.file_row_number").alias("pos")))

    # insert side (shared by both modes): unmatched source rows routed
    # through the not_matched clauses in order
    inserts = src_plain.join(target, cond, "left_anti")
    ins_err = [i for i, c in enumerate(clauses)
               if c.match == "not_matched" and c.action == "error"]
    if ins_err:
        nm_expr = None
        for i, c in enumerate(clauses):
            if c.match != "not_matched":
                continue
            nm_expr = (F.when(c.condition_col(), i) if nm_expr is None
                       else nm_expr.when(c.condition_col(), i))
        _raise_if_error_clause_fires(
            inserts, nm_expr.otherwise(F.lit(-1)), clauses, ins_err)
    ins_parts = _insert_parts(clauses, inserts, schema, defaults)

    if mode == "merge-on-read":
        return _merge_into_mor(
            spark, tm, plan, schema, clauses, affected_rows, upd_idx,
            ins_parts, table, defaults, branch=branch)

    new_parts: list[DataFrame] = []
    affected: set[str] = set()
    if affected_rows is not None:
        affected = {r[0] for r in affected_rows
                    .select(F.col("tgt.filename")).distinct().collect()}
    # scan filenames are canonicalized; manifest paths may spell the scheme
    # differently (s3a:// vs s3://) — normalize before membership tests
    from ..io import normalize_path

    rewrite_tasks = [t for t in plan.tasks
                     if normalize_path(t.data_file.file_path) in affected]
    if rewrite_tasks:
        from pyspark.sql.window import Window

        sub = ScanPlan(tm, snapshot, rewrite_tasks, None, plan.schema_id)
        tgt_rows = scan_to_dataframe(spark, sub, with_file_info=True) \
            .alias("tgt")
        joined = tgt_rows.join(src_m, cond, "left_outer") \
            .withColumn("__fired", fired)
        # a target row matched by several source rows where only SOME fire a
        # clause appears once per source row in the join — emit exactly one
        # output row per target row, preferring the firing copy (cardinality
        # check above guarantees at most one firing update/delete match).
        # The window shuffles only the rewritten files' rows (delta-sized).
        prio = F.when(F.col("__fired") < 0,
                      F.lit(2 ** 31 - 1)).otherwise(F.col("__fired"))
        w = Window.partitionBy(F.col("tgt.filename"),
                               F.col("tgt.file_row_number")).orderBy(prio)
        out = joined.withColumn("__rn", F.row_number().over(w)) \
            .filter(F.col("__rn") == 1)
        if del_idx:
            out = out.filter(~F.col("__fired").isin(del_idx))
        cols = [_update_value(clauses, upd_idx, c, F.col("__fired"), defaults)
                for c in schema]
        new_parts.append(out.select(*cols))
    new_parts.extend(ins_parts)

    if not new_parts and not rewrite_tasks:
        return tm

    new_files: list[mf.DataFile] = []
    if new_parts:
        union = new_parts[0]
        for p in new_parts[1:]:
            union = union.unionByName(p)
        new_files, _ = write_data_files(spark, union, tm)
    commit_snapshot(
        tm, operation="overwrite", new_data_files=new_files,
        removed_data_paths=affected or None,
        commit_fn=committer(table, "overwrite"),
        branch=branch,
    )
    return table.metadata


class MergeCardinalityError(ValueError):
    """A target row matched more than one source row in MERGE INTO."""


def _check_merge_cardinality(pairs: DataFrame) -> None:
    """Raise if any (file_path, pos) target row appears more than once in the
    matched set. One aggregation job over the delta-sized match set; the
    group-by is map-side-combinable so the shuffle carries at most one row
    per matched target row (reference raises the same SQL-standard
    cardinality violation in merge_into/iceberg_merge_into.cpp)."""
    dup = (
        pairs.groupBy("file_path", "pos").count()
        .filter(F.col("count") > 1).limit(1).collect()
    )
    if dup:
        r = dup[0]
        raise MergeCardinalityError(
            "MERGE INTO cardinality violation: target row "
            f"({r['file_path']!r}, pos {r['pos']}) matched {r['count']} "
            "source rows; deduplicate the source on the ON keys")


def _merge_into_mor(
    spark: SparkSession,
    tm: TableMetadata,
    plan: ScanPlan,
    schema: list[str],
    clauses: list["MergeClause"],
    affected_rows: DataFrame | None,
    upd_idx: list[int],
    ins_parts: list[DataFrame],
    table,
    defaults: dict | None = None,
    branch: str | None = None,
) -> TableMetadata:
    """Merge-on-read MERGE: rows that fired an update/delete clause become
    row deletes (Puffin DVs on v3, positional parquet on v2); updated and
    inserted rows become new data files; one snapshot carries both.
    ``affected_rows`` is the planning join filtered to firing
    update/delete clauses (None when no such clause exists)."""
    new_parts: list[DataFrame] = list(ins_parts)
    delete_files: list[mf.DataFile] = []
    superseded: set[str] = set()
    if affected_rows is not None:
        # persist: the same delta feeds the row-delete write and (when
        # update clauses exist) the replacement-row write — without the
        # cache the full target⋈source join would execute twice
        affected_rows = affected_rows.persist()
        try:
            pairs = affected_rows.select(
                F.col("tgt.filename").alias("file_path"),
                F.col("tgt.file_row_number").alias("pos"),
            )
            if upd_idx:
                cols = [_update_value(clauses, upd_idx, c, F.col("__fired"),
                                      defaults or {})
                        for c in schema]
                new_parts.insert(0, affected_rows
                                 .filter(F.col("__fired").isin(upd_idx))
                                 .select(*cols))
            delete_files, superseded = _write_row_deletes(spark, tm, pairs, plan)
            if not delete_files and not new_parts:
                return tm
            new_files: list[mf.DataFile] = []
            if new_parts:
                union = new_parts[0]
                for p in new_parts[1:]:
                    union = union.unionByName(p)
                new_files, _ = write_data_files(spark, union, tm)
        finally:
            affected_rows.unpersist()
    else:
        if not new_parts:
            return tm
        union = new_parts[0]
        for p in new_parts[1:]:
            union = union.unionByName(p)
        new_files, _ = write_data_files(spark, union, tm)
    commit_snapshot(
        tm, operation="overwrite",
        new_data_files=new_files, new_delete_files=delete_files,
        superseded_dv_refs=superseded or None,
        commit_fn=committer(table, "overwrite"),
        branch=branch,
    )
    return table.metadata
