"""Scan planning: snapshot → manifest list → pruned file list
with per-file delete assignments and partition constants.

This is the PySpark re-expression of the reference's planning pipeline
(reference: src/planning/iceberg_multi_file_list.cpp:437-553 lazy file
surfacing; src/planning/pruning/iceberg_file_pruner.cpp manifest/file/delete
pruning; src/planning/deletes/iceberg_delete_planner.cpp per-file delete
assignment). Everything here is metadata-sized work that runs before the
scan's Spark job; the data-sized work is expressed as DataFrames.

Scale notes (100 TB design):
- manifests are pruned *before* being opened (field summaries), mirroring the
  reference's lazy materialization — a 256-manifest table with a selective
  partition filter opens only matching manifests (BASELINE.md late-material.
  benchmark).
- per-manifest parsing is O(entries) CPU; manifests are independent, so
  above ``fanout.DRIVER_MAX`` surviving data manifests a planner given a
  Spark session (``plan_scan_distributed``) reads and file-prunes them in
  one Spark job and the driver stays O(#manifests + surviving entries).
- the plan is columnar, like the reference's late materialization
  (benchmark/metadata_late_materialization/): a manifest decodes into
  per-field columns (``mf.read_manifest(path).columns``), sequence-number
  and row-lineage inheritance and the live/deleted split run over those
  columns, and file pruning evaluates a row of them — its partition half
  once per distinct partition tuple, its stats decoded from the row's raw
  stat run only when a predicate leaf needs them. The surviving rows
  travel (and, on executors, pickle) as a few lists per manifest, and
  ``ScanPlan.tasks`` builds its ``FileScanTask`` objects on first access:
  ``len``, the row counts and ``has_deletes`` of a plan with no delete
  files never build one.
"""

from __future__ import annotations

import dataclasses
import datetime as _dt
import logging
import os
from collections.abc import Sequence
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any, Optional

from ..metadata import avro_io
from ..metadata import manifest as mf

#: per-event scan-planning log, the analogue of the reference's
#: `call enable_logging('Iceberg')` channel (test_partition_read_logging.test
#: asserts on its "skipped ... data_file ... does not match filter" lines).
#: DEBUG-gated: at 100 TB per-file messages are O(files) string work, so the
#: emit sites check isEnabledFor first and cost nothing when disabled.
_log = logging.getLogger("duckdb_iceberg_spark.scan")


from ..metadata import types as ice_types
from ..metadata.table_metadata import PartitionSpec, Snapshot, TableMetadata
from . import predicates as P
from . import transforms as tr


@dataclass(slots=True)
class FileScanTask:
    data_file: mf.DataFile
    sequence_number: int
    spec_id: int
    positional_deletes: list[mf.DataFile] = field(default_factory=list)
    equality_deletes: list[tuple[int, mf.DataFile]] = field(default_factory=list)  # (seq, file)
    first_row_id: Optional[int] = None

    @property
    def has_deletes(self) -> bool:
        return bool(self.positional_deletes or self.equality_deletes)


class _PlannedTasks(Sequence):
    """A planner's tasks, kept as the columns of the surviving entries:
    one ``(spec id, ColumnTable of mf.TASK_COLUMNS)`` per data manifest.
    ``len`` and, when no delete file may apply, the row counts read the
    columns. The first index or iteration builds every
    :class:`FileScanTask` once (:func:`_assemble_tasks`: path
    localization and delete attachment) and keeps the list, so a change
    made to a task sticks."""

    __slots__ = ("_chunks", "_n", "_build", "may_delete", "_tasks")

    def __init__(self, chunks: list, build, may_delete: bool):
        self._chunks = chunks
        self._n = sum(len(cols) for _, cols in chunks)
        self._build = build
        self.may_delete = may_delete
        self._tasks: Optional[list[FileScanTask]] = None

    def _list(self) -> list[FileScanTask]:
        if self._tasks is None:
            self._tasks = self._build(self._chunks)
            self._chunks = self._build = None
        return self._tasks

    def record_counts(self):
        """Each task's record count, from the columns until built."""
        if self._tasks is not None:
            return (t.data_file.record_count for t in self._tasks)
        return (n or 0 for _, cols in self._chunks
                for n in cols["record_count"])

    def __len__(self) -> int:
        return self._n if self._tasks is None else len(self._tasks)

    def __getitem__(self, i):
        return self._list()[i]

    def __iter__(self):
        return iter(self._list())

    def __eq__(self, other) -> bool:
        if isinstance(other, _PlannedTasks):
            other = other._list()
        if not isinstance(other, list):
            return NotImplemented
        return self._list() == other

    def __reduce__(self):
        return list, (self._list(),)

    def __repr__(self) -> str:
        return repr(self._list())


@dataclass
class ScanPlan:
    tm: TableMetadata
    snapshot: Optional[Snapshot]
    tasks: Sequence[FileScanTask]
    residual: Optional[str]
    schema_id: Optional[int]
    stats: dict = field(default_factory=dict)

    @property
    def schema_json(self) -> dict:
        sid = self.schema_id
        if sid is None or sid not in self.tm.schemas:
            sid = self.tm.current_schema_id
        return self.tm.schemas[sid]

    def spark_schema(self):
        return ice_types.schema_to_struct(self.schema_json)

    def _task_rows(self):
        """``(record count, delete files)`` per task; the columns of a
        planner's unbuilt tasks answer when no delete file may apply."""
        tasks = self.tasks
        if isinstance(tasks, _PlannedTasks) and not tasks.may_delete:
            return ((n, ()) for n in tasks.record_counts())
        return ((t.data_file.record_count,
                 [*t.positional_deletes, *(d for _, d in t.equality_deletes)])
                for t in tasks)

    @property
    def has_deletes(self) -> bool:
        return any(deletes for _, deletes in self._task_rows())

    def exact_row_count(self) -> Optional[int]:
        """count(*) from metadata when no deletes apply
        (reference: iceberg_multi_file_list.cpp:395-427)."""
        if self.residual or self.has_deletes:
            return None
        return sum(n for n, _ in self._task_rows())

    def estimated_row_count(self) -> int:
        """Cardinality ESTIMATE, valid even when deletes apply (reference:
        iceberg_cardinality_estimates.test — DuckDB's EXPLAIN shows
        ~record_count minus delete cardinality so joins plan against the
        LIVE row count, not the raw file counts): live data rows minus
        delete cardinality. Each distinct positional-delete/DV or
        equality-delete file subtracts at most the rows of the KEPT data
        files it applies to — a shared delete file whose other targets
        were pruned by the predicate must not zero the estimate out.
        Metadata-only; exact for positional deletes/DVs when no predicate
        prunes their referenced files, an estimate otherwise (a delete row
        may target a pruned file; equality-delete rows remove ≥0 rows
        each)."""
        total = 0
        # delete file -> (its row count, rows of kept tasks it applies to)
        scope: dict[str, list[int]] = {}
        for n, deletes in self._task_rows():
            total += n
            rows = int(n or 0)
            for d in deletes:
                ent = scope.setdefault(d.file_path,
                                       [int(d.record_count or 0), 0])
                ent[1] += rows
        removed = sum(min(n, kept) for n, kept in scope.values())
        return max(0, total - removed)


def _localize(tm: TableMetadata, path: str) -> str:
    """Map absolute table-relative paths onto the actual table location
    (allow_moved_paths analogue, reference: iceberg_scan.cpp:40-48).

    Remote tables short-circuit on a prefix match — probing existence per
    path would be one HEAD request per manifest/data file, a planning-time
    storm at 100 TB. Rewrites only fire when the recorded path points
    somewhere other than the table's current location (a copied table)."""
    loc = tm.location.rstrip("/")
    # the canonical un-moved layout, with or without a scheme: every rule
    # below returns such a path unchanged, so decide it before any parsing
    if path.startswith(loc + "/data/") or path.startswith(loc + "/metadata/"):
        return path
    from .. import io as fio

    loc_scheme, _ = fio.parse_uri(loc)
    path_scheme, rest = fio.parse_uri(path)
    # files legitimately living OUTSIDE the table location under the
    # write.data.path / write.metadata.path overrides must never be
    # marker-rewritten — an override containing '/data/' or '/metadata/'
    # would otherwise be relocated under <location> (remote tables don't
    # probe existence, so the corruption would be silent)
    # normalize URI form on BOTH sides before comparing (ADVICE r9): a
    # recorded 'file:///x/data/f' must match an override of '/x/data'
    # and vice versa — a raw string-prefix compare would miss and let a
    # marker-containing override path be rewritten under <location>
    def _no_file_scheme(p: str) -> str:
        scheme, rest = fio.parse_uri(p)
        return rest if scheme == "file" else p

    cmp_path = _no_file_scheme(path)
    for root in (tm.properties.get("write.data.path"),
                 tm.properties.get("write.metadata.path")):
        if not root:
            continue
        root = _no_file_scheme(root.rstrip("/"))
        if cmp_path == root or cmp_path.startswith(root + "/"):
            return path
    if path_scheme == "file":
        # strip BEFORE marker matching — 'file://<relative>' (a malformed
        # URI some writers emit) would otherwise false-match '/data/'
        # against the '//data' authority. 'file:///abs' yields '/abs',
        # 'file://rel' yields the relative 'rel'.
        path = rest
        path_scheme = ""
    if loc_scheme or path_scheme:
        if path.startswith(loc + "/") or path == loc:
            return path
        for marker in ("/data/", "/metadata/"):
            idx = path.find(marker)
            if idx >= 0:
                return loc + path[idx:]
        return path
    # canonical un-moved local layout (<location>/data/…, …/metadata/…):
    # return WITHOUT a stat. Probing existence per path was the planner's
    # hot spot at many-file scale (tools/bench_metadata.py: 100k entries
    # spent ~5s in posix.stat here — O(#files) syscalls for tables that
    # were never moved); the marker rewrite below reconstructs the same
    # string for these paths anyway, so the stat decided nothing.
    if path.startswith(loc + "/"):
        tail = path[len(loc):]
        if tail.startswith("/data/") or tail.startswith("/metadata/"):
            return path
    if os.path.exists(path):
        return path
    for marker in ("/data/", "/metadata/"):
        idx = path.find(marker)
        if idx >= 0:
            cand = loc + path[idx:]
            if os.path.exists(cand):
                return cand
    if not os.path.isabs(path):
        # relative recorded path: the writer's working directory is normally
        # an ancestor of the table root (foreign fixtures record e.g.
        # 'data/persistent/<t>/...'); climb ancestors until it resolves —
        # bounded by path depth, driver-side only
        anc = loc
        while True:
            cand = os.path.join(anc, path)
            if os.path.exists(cand):
                return cand
            parent = os.path.dirname(anc)
            if parent == anc:
                break
            anc = parent
    base = os.path.basename(path)
    for sub in ("data", "metadata"):
        cand = os.path.join(loc, sub, base)
        if os.path.exists(cand):
            return cand
    return path


def _manifest_matches(
    manifest: mf.ManifestFile, tm: TableMetadata, pred: P.Predicate
) -> bool:
    """Manifest-level pruning on partition field summaries
    (reference: iceberg_file_pruner.cpp:396-447)."""
    return _FileFilter(tm, pred, tm.schema_json()).manifest_matches(manifest)


def _file_matches(
    entry: mf.ManifestEntry, spec: PartitionSpec, tm: TableMetadata, pred: P.Predicate,
    schema_json: dict,
) -> bool:
    """File-level pruning of one entry (see :class:`_FileFilter`)."""
    return _FileFilter(tm, pred, schema_json).matches(entry, spec)


_UNSET = object()

#: source types whose identity partition value, once normalized
#: (:func:`_norm_partition_value`), is the value ``decode_bound`` reads
#: from the file's bounds. Floats are out (a NaN partition value is not a
#: bound) and so are nanosecond timestamps (their values stay raw ints).
_EXACT_IDENTITY_TYPES = frozenset({
    "boolean", "int", "long", "date", "time", "timestamp", "timestamptz",
    "string", "uuid", "fixed", "binary", "decimal"})


class _FileFilter:
    """Manifest- and file-level pruning bound once per plan.

    File pruning checks partition values, column zone maps and null
    counts (reference: iceberg_file_pruner.cpp:12-172); manifest pruning
    checks the manifest list's partition field summaries
    (iceberg_file_pruner.cpp:396-447). Everything that depends only on
    ``(tm, pred, scan schema)`` — the literal-coerced predicate, the
    name/id → field maps, the name-mapping's unmapped field ids, each
    partition spec's source columns and result types, and each predicate
    leaf's projection into partition space —
    is computed on first use and reused, so per entry only the entry's
    own partition values and referenced bounds are decoded and compared.
    A non-null identity partition value is the column's exact stats, so
    a leaf on such a column never reads (or decodes) the file's bounds.
    Planners build one per plan; executors one per task."""

    __slots__ = ("tm", "pred", "fields_by_name", "fields_by_id",
                 "unmapped", "_coerced", "_specs")

    def __init__(self, tm: TableMetadata, pred: P.Predicate,
                 schema_json: dict) -> None:
        self.tm = tm
        self.pred = pred
        self.fields_by_name = {f["name"]: f for f in schema_json["fields"]}
        self.fields_by_id = {f["id"]: f for f in schema_json["fields"]}
        self.unmapped = _unmapped_field_ids(tm)
        self._coerced = _UNSET
        self._specs: dict = {}

    @property
    def coerced(self) -> P.Predicate:
        """The predicate with literals coerced to the scan schema's types."""
        if self._coerced is _UNSET:
            self._coerced = _coerce_pred(self.pred, self.fields_by_name)
        return self._coerced

    def _bind_spec(self, spec: PartitionSpec):
        """(parts, partition-space predicate, exact) for a spec. ``parts``
        holds ``(index in spec.fields, partition name, source column,
        result type, transform, source type)`` for fields whose source
        resolves; ``exact`` holds the indexes into ``parts`` of identity
        fields whose value stands in for the column's stats."""
        bound = self._specs.get(spec.spec_id)
        if bound is None:
            parts, exact = [], set()
            for i, pf in enumerate(spec.fields):
                # nested partition sources key by their dotted path — the
                # predicate parser emits dotted column names
                hit = self.tm.field_path_by_id(pf.source_id)
                if hit is None:
                    continue
                src_name, src = hit
                f = self.fields_by_name.get(src_name)
                if (tr.parse_transform(pf.transform)[0] == "identity"
                        and isinstance(src["type"], str)
                        and ice_types.primitive_name(src["type"])
                        in _EXACT_IDENTITY_TYPES
                        and f is not None and f["id"] == pf.source_id
                        and f["id"] not in self.unmapped):
                    exact.add(len(parts))
                parts.append((i, pf.name, src_name,
                              tr.transform_result_type(pf.transform, src["type"]),
                              pf.transform, src["type"]))
            bound = self._specs[spec.spec_id] = (
                parts, _compile_transformed(self.pred, parts), exact)
        return bound

    def manifest_matches(self, manifest: mf.ManifestFile) -> bool:
        if self.pred is None or not manifest.partitions:
            return True
        spec = self.tm.partition_specs.get(manifest.partition_spec_id)
        if spec is None or len(spec.fields) != len(manifest.partitions):
            return True
        parts, part_pred, _ = self._bind_spec(spec)
        summaries = manifest.partitions
        data = manifest.content == mf.MANIFEST_DATA
        by_col = {}
        for k, (i, _, src_name, rt, _, _) in enumerate(parts):
            summ = summaries[i]
            # a summary with nulls and no bounds: every value is NULL (or
            # NaN, which only a float can hold), as file pruning already
            # assumes of a null partition value. Not for delete
            # manifests: a delete file with a null partition value applies
            # to every partition (_partitions_overlap)
            all_null = (data and summ.contains_null
                        and summ.lower_bound is None
                        and summ.upper_bound is None
                        and isinstance(rt, str)
                        and ice_types.primitive_name(rt)
                        not in ("float", "double"))
            st = P.ColumnStats(
                lower=ice_types.decode_bound(rt, summ.lower_bound) if rt else None,
                upper=ice_types.decode_bound(rt, summ.upper_bound) if rt else None,
                contains_null=summ.contains_null,
                contains_nan=summ.contains_nan,
                all_null=all_null,
            )
            by_col[src_name] = (st, k)
        return part_pred(by_col)

    def matches(self, entry: mf.ManifestEntry, spec: PartitionSpec) -> bool:
        """Whether one entry's file may hold matching rows."""
        df = entry.data_file
        return bool(self.keep_rows(
            spec, tuple(df.partition), [tuple(df.partition.values())],
            lambda i: tuple(getattr(df, name) for name in mf._LAZY_STATS),
            [0]))

    def keep_rows(self, spec: PartitionSpec, names: tuple, partitions,
                  stats_of, rows, decoded: Optional[dict] = None) -> list:
        """The rows of ``rows`` whose file may hold matching rows. Row
        ``i`` has the partition tuple ``partitions[i]`` (fields named
        ``names``) and the six stat maps ``stats_of(i)`` (in
        ``mf._LAZY_STATS`` order), asked for only when a predicate leaf
        needs them; ``decoded`` collects those per row.

        1. Partition values prune exactly, in transformed space; when two
           partition fields share a source column the last one wins. This
           depends only on the partition tuple, so it runs once per
           distinct tuple, and so does a whole verdict that read no stats.
        2. Column stats prune in source space. A non-null identity
           partition value stands in for its column's stats."""
        if self.pred is None:
            return list(rows)
        parts, part_pred, exact = self._bind_spec(spec)
        at = {name: j for j, name in enumerate(names)}
        bound = [(k, at[name], src_name, rt)
                 for k, (_, name, src_name, rt, _, _) in enumerate(parts)
                 if name in at]
        coerced = self.coerced
        column_stats = self._column_stats
        by_tuple: dict = {}
        kept = []
        for i in rows:
            values = partitions[i]
            ent = by_tuple.get(values)
            if ent is None:
                ent = by_tuple[values] = _partition_verdict(
                    bound, part_pred, exact, values)
            verdict, memo = ent
            if verdict is None:
                row: dict = {}
                stats = None

                def stats_for(col):
                    nonlocal stats
                    st = memo.get(col, _UNSET)
                    if st is _UNSET:
                        st = row.get(col, _UNSET)
                        if st is _UNSET:
                            if stats is None:
                                stats = stats_of(i)
                                if decoded is not None:
                                    decoded[i] = stats
                            st = row[col] = column_stats(stats, col)
                    return st
                verdict = P.match_bounds(coerced, stats_for)
                if not row:  # decided by the partition tuple alone
                    ent[0] = verdict
            if verdict:
                kept.append(i)
        return kept

    def _column_stats(self, stats: tuple, col) -> Optional[P.ColumnStats]:
        _, value_counts, null_counts, _, lower_bounds, upper_bounds = stats
        if isinstance(col, P.VariantRef):
            # shredded-variant bounds: the variant column's lower/upper blobs
            # are serialized variant OBJECTS keyed by JSON path (reference:
            # iceberg_variant_statistics.cpp Finalize/Deserialize;
            # iceberg_predicate.cpp MatchTransformedBounds)
            from ..metadata import variant as ice_variant

            f = self.fields_by_name.get(col.column)
            if f is None or f.get("type") != "variant":
                return None
            fid = f["id"]
            lower = upper = None
            try:
                if lower_bounds and fid in lower_bounds:
                    lower = ice_variant.decode_bounds(lower_bounds[fid]).get(col.path)
                if upper_bounds and fid in upper_bounds:
                    upper = ice_variant.decode_bounds(upper_bounds[fid]).get(col.path)
            except (ValueError, IndexError, KeyError, UnicodeDecodeError):
                return None  # undecodable bounds: conservative
            if lower is None and upper is None:
                return None
            # null counts track the whole variant column, not the extracted
            # path — claim nothing about nulls (IS [NOT] NULL stays true)
            return P.ColumnStats(lower, upper, True, None, False)
        f = self.fields_by_name.get(col)
        if f is None:
            return None
        fid = f["id"]
        if fid in self.unmapped:
            # the field was dropped from schema.name-mapping.default: legacy
            # files (no parquet field-ids) surface it as all-NULL regardless
            # of what the physical column's stats say — stats would prune
            # rows the mapping makes NULL (column_mapping_delete.test)
            return None
        lower = upper = None
        if lower_bounds and fid in lower_bounds:
            lower = ice_types.decode_bound(f["type"], lower_bounds[fid])
        if upper_bounds and fid in upper_bounds:
            upper = ice_types.decode_bound(f["type"], upper_bounds[fid])
        nulls = (null_counts or {}).get(fid)
        values = (value_counts or {}).get(fid)
        if lower is None and upper is None and nulls is None:
            return None
        contains_null = nulls is None or nulls > 0
        all_null = (
            nulls is not None and values is not None and values > 0 and nulls == values
        )
        return P.ColumnStats(lower, upper, contains_null, None, all_null)

    def eq_delete_matches(self, del_entry: mf.ManifestEntry) -> bool:
        """Predicate-vs-delete-file pruning for equality deletes (reference:
        benchmark/file_pruning_benchmarks/prune_equality_deletes.benchmark —
        "prune equality deletes when a given predicate would not select rows
        an equality delete would filter out"): a row this delete file removes
        has its equality-column values inside the file's bounds, so if the
        scan predicate is unsatisfiable within those bounds, no SELECTED row
        can be deleted by this file — skipping it cannot resurrect a visible
        row. Conservative (apply) when bounds are missing or the file holds
        NULL keys (a NULL-key delete matches rows the bounds don't describe;
        contains_null keeps IS NULL predicates honest)."""
        if self.pred is None:
            return True
        dl = del_entry.data_file
        eq_ids = set(dl.equality_ids or [])
        if not eq_ids:
            return True
        fields_by_name = self.fields_by_name

        def stats_for(col) -> Optional[P.ColumnStats]:
            if isinstance(col, P.VariantRef):
                return None
            f = fields_by_name.get(col)
            if f is None or f["id"] not in eq_ids or not isinstance(f["type"], str):
                return None  # not an equality column (or nested): unknown
            fid = f["id"]
            try:
                lower = ice_types.decode_bound(f["type"], (dl.lower_bounds or {}).get(fid))
                upper = ice_types.decode_bound(f["type"], (dl.upper_bounds or {}).get(fid))
            except (TypeError, ValueError):
                return None
            nulls = (dl.null_value_counts or {}).get(fid)
            if lower is None and upper is None and nulls is None:
                return None
            return P.ColumnStats(lower, upper,
                                 contains_null=nulls is None or nulls > 0,
                                 all_null=False)

        return P.match_bounds(self.coerced, stats_for)


def _compile_transformed(pred: P.Predicate, parts: list):
    """``pred`` as a function of ``by_col`` (source column → (ColumnStats,
    index into ``parts``)): each leaf on a partition source column is
    projected into partition space through that field's transform and
    matched against its stats; any other leaf matches. A leaf's projection
    per partition field is computed once, on first use."""
    if isinstance(pred, P.And):
        subs = [_compile_transformed(c, parts) for c in pred.children]
        return lambda by_col: all(f(by_col) for f in subs)
    if isinstance(pred, P.Or):
        subs = [_compile_transformed(c, parts) for c in pred.children]
        return lambda by_col: any(f(by_col) for f in subs)
    col = pred.column
    projected: dict[int, P.Predicate] = {}

    def leaf(by_col) -> bool:
        ent = by_col.get(col)
        if ent is None:
            return True
        st, k = ent
        tp = projected.get(k, _UNSET)
        if tp is _UNSET:
            transform, src_type = parts[k][4], parts[k][5]
            tp = projected[k] = P.transform_predicate(
                pred, col, transform, src_type)
        if tp is None:
            return True
        return P.match_bounds(tp, lambda c: st if c == col else None)
    return leaf


def _partition_verdict(bound: list, part_pred, exact: set,
                       values: tuple) -> list:
    """``[False, memo]`` when a partition tuple prunes its files, else
    ``[None, memo]`` (undecided); ``memo`` maps the source column of each
    exact identity field with a non-null value to its stats. ``bound``
    holds ``(index into parts, index into values, source column, result
    type)``."""
    by_col, memo = {}, {}
    for k, j, src_name, rt in bound:
        v = _norm_partition_value(values[j], rt)
        st = P.ColumnStats(lower=v, upper=v, contains_null=v is None,
                           all_null=v is None)
        by_col[src_name] = (st, k)
        if k in exact and v is not None:
            memo[src_name] = st  # every row holds v
    if by_col and not part_pred(by_col):
        return [False, memo]
    return [None, memo]


def _unmapped_field_ids(tm: TableMetadata) -> frozenset:
    """Schema field-ids NOT present in ``schema.name-mapping.default`` (when
    the property exists). Empty when there is no mapping. Cached per tm."""
    cached = getattr(tm, "_unmapped_fids", None)
    if cached is not None:
        return cached
    prop = getattr(tm, "properties", {}).get("schema.name-mapping.default")
    if not prop:
        out = frozenset()
    else:
        import json as _json

        mapped: set[int] = set()

        def walk(entries):
            for ent in entries:
                if ent.get("field-id") is not None:
                    mapped.add(int(ent["field-id"]))
                walk(ent.get("fields") or [])

        try:
            walk(_json.loads(prop))
            # across ALL schemas: a snapshot may read an older schema id
            # (time travel) whose fields the current schema dropped
            out = frozenset(
                f["id"] for sch in tm.schemas.values()
                for f in sch["fields"] if f["id"] not in mapped)
        except (ValueError, KeyError, TypeError):
            out = frozenset()
    tm._unmapped_fids = out
    return out


def _coerce_pred(pred: P.Predicate, fields_by_name: dict) -> P.Predicate:
    if isinstance(pred, P.And):
        return P.And([_coerce_pred(c, fields_by_name) for c in pred.children])
    if isinstance(pred, P.Or):
        return P.Or([_coerce_pred(c, fields_by_name) for c in pred.children])
    if isinstance(pred, P.Comparison):
        f = fields_by_name.get(pred.column)
        if f is not None:
            return P.Comparison(pred.column, pred.op, P.coerce_literal(pred.value, f["type"]))
    if isinstance(pred, P.InList):
        f = fields_by_name.get(pred.column)
        if f is not None:
            return P.InList(pred.column, [P.coerce_literal(v, f["type"]) for v in pred.values])
    return pred


def _norm_partition_value(v: Any, result_type: Any) -> Any:
    """Avro-decoded partition value → Python domain value."""
    if v is None or not isinstance(result_type, str):
        return v
    name = ice_types.primitive_name(result_type)
    if name == "date" and isinstance(v, int):
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
    if (name == "time" and isinstance(v, int)
            and ice_types.time_type_available()):
        return ice_types.micros_to_time(v)
    if name in ("timestamp", "timestamptz") and isinstance(v, int):
        base = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc if name == "timestamptz" else None)
        return base + _dt.timedelta(microseconds=v)
    if name == "decimal" and isinstance(v, (bytes, bytearray)):
        _, s = ice_types.decimal_precision_scale(result_type)
        from ..metadata.types import DEC38
        return Decimal(int.from_bytes(bytes(v), "big", signed=True)).scaleb(-s, context=DEC38)
    if name == "uuid" and isinstance(v, (bytes, bytearray)):
        import uuid as _uuid

        return str(_uuid.UUID(bytes=bytes(v)))
    return v


def _partitions_overlap(data_entry: mf.ManifestEntry, del_entry: mf.ManifestEntry,
                        data_spec_id: int, del_spec_id: int,
                        data_paths: tuple = ()) -> bool:
    """Conservative partition match for delete application
    (reference: iceberg_file_pruner.cpp:326-394). ``data_paths`` carries the
    data file's manifest-recorded AND localized spellings — a DV's
    referenced_data_file may use either (moved tables record relative
    paths; DVs we write record the normalized scan path)."""
    if del_entry.data_file.referenced_data_file:
        from ..io import normalize_path

        ref = normalize_path(del_entry.data_file.referenced_data_file)
        cands = {normalize_path(p) for p in
                 (data_paths or (data_entry.data_file.file_path,))}
        return ref in cands
    if data_spec_id != del_spec_id:
        return True  # different spec ⇒ conservative apply
    dp, pp = data_entry.data_file.partition, del_entry.data_file.partition
    if not pp:
        return True  # unpartitioned delete applies everywhere
    for k, v in pp.items():
        if k in dp and dp[k] != v and v is not None and dp[k] is not None:
            return False
    return True


#: Iceberg reserved field-id of the positional-delete ``file_path`` column
_POS_PATH_FID = 2147483546


def _pos_delete_path_overlap(del_entry: mf.ManifestEntry,
                             data_paths: tuple[str, ...]) -> bool:
    """Path-bounds pruning for positional-delete files: manifests record
    spec-valid lower/upper bounds of the delete file's ``file_path`` column
    (truncation per spec keeps them valid bounds), so a data file whose path
    falls outside the range cannot be referenced. ``data_paths`` carries
    both the manifest-recorded and localized spellings — pruning requires
    BOTH to miss, staying correct whichever form the delete rows store."""
    dl = del_entry.data_file
    if dl.referenced_data_file:
        return True  # exact per-file targeting handled by partition match
    lo = (dl.lower_bounds or {}).get(_POS_PATH_FID)
    hi = (dl.upper_bounds or {}).get(_POS_PATH_FID)
    if lo is None or hi is None:
        return True
    return any(lo <= p.encode("utf-8") <= hi for p in data_paths if p)


def _eq_delete_bounds_overlap(data_entry: mf.ManifestEntry,
                              del_entry: mf.ManifestEntry,
                              fields: dict) -> bool:
    """Bounds-overlap pruning for equality deletes (reference:
    iceberg_file_pruner.cpp:248-316): if, for any equality column, the
    delete file's value range provably cannot intersect the data file's
    range, no delete row can match any data row — skip the delete.
    Conservative (apply) whenever bounds are missing, the column is
    non-primitive, or the delete file contains NULL keys. ``fields`` maps
    the scan schema's field ids to fields."""
    df, dl = data_entry.data_file, del_entry.data_file
    for fid in dl.equality_ids or []:
        f = fields.get(fid)
        if f is None or not isinstance(f["type"], str):
            continue
        if (dl.null_value_counts or {}).get(fid, 0):
            continue  # NULL delete keys match data NULLs; bounds can't say
        try:
            d_lo = ice_types.decode_bound(f["type"], (df.lower_bounds or {}).get(fid))
            d_hi = ice_types.decode_bound(f["type"], (df.upper_bounds or {}).get(fid))
            l_lo = ice_types.decode_bound(f["type"], (dl.lower_bounds or {}).get(fid))
            l_hi = ice_types.decode_bound(f["type"], (dl.upper_bounds or {}).get(fid))
            if d_lo is None or d_hi is None or l_lo is None or l_hi is None:
                continue
            if l_hi < d_lo or l_lo > d_hi:
                return False
        except (TypeError, ValueError):
            continue
    return True


def manifests_for_snapshot(tm: TableMetadata,
                           snapshot: Snapshot) -> list[mf.ManifestFile]:
    """Manifest-list entries for a snapshot. Legacy v1 snapshots may embed
    manifest paths directly (deprecated ``manifests`` field) — those get the
    V1 defaults a manifest list would supply (content=DATA, sequence 0;
    reference: iceberg_v1_deprecated_metadata.test golden rows)."""
    if snapshot.manifest_list:
        return mf.read_manifest_list(_localize(tm, snapshot.manifest_list))
    return [
        mf.ManifestFile(
            manifest_path=_localize(tm, p), manifest_length=0,
            partition_spec_id=tm.default_spec_id, content=mf.MANIFEST_DATA,
            sequence_number=0, min_sequence_number=0,
            added_snapshot_id=snapshot.snapshot_id)
        for p in snapshot.manifests
    ]


class _DeleteIndex:
    """Partition-keyed candidate index over delete entries (r15).

    The delete-attachment loops were O(data_files × delete_files) — at
    100 TB (1e5-1e6 data files, 1e4+ MoR delete files) that is 1e9+
    driver-side overlap checks. Deletes bucket by (a) normalized
    ``referenced_data_file`` (DVs target exactly one file), (b) exact
    (spec_id, partition-tuple) for fully-valued partitions — identity-
    partitioned MoR, the common shape — with (c) small fallback lists
    for unpartitioned deletes, NULL-valued partition tuples, and
    cross-spec conservative application. Candidate sets are a SUPERSET
    of true matches by construction; the caller still runs the original
    overlap predicates per candidate, so semantics are unchanged and
    the equivalence is pinned by the planner parity tests."""

    __slots__ = ("by_ref", "exact", "by_spec", "loose", "unpart")

    def __init__(self, deletes):
        from ..io import normalize_path

        self.by_ref: dict = {}
        self.exact: dict = {}
        self.by_spec: dict = {}
        self.loose: list = []
        self.unpart: list = []
        for item in deletes:
            de, dspec = item
            d = de.data_file
            if d.referenced_data_file:
                self.by_ref.setdefault(
                    normalize_path(d.referenced_data_file), []).append(item)
                continue
            pp = d.partition
            if not pp:
                self.unpart.append(item)
                continue
            self.by_spec.setdefault(dspec, []).append(item)
            if all(v is not None for v in pp.values()):
                try:
                    key = (dspec, tuple(sorted(pp.items())))
                    self.exact.setdefault(key, []).append(item)
                    continue
                except TypeError:  # unhashable/unorderable value
                    pass
            self.loose.append(item)

    def candidates(self, data_entry, data_spec_id: int,
                   norm_paths) -> list:
        out = list(self.unpart)
        for p in norm_paths:
            out += self.by_ref.get(p, [])
        dp = data_entry.data_file.partition
        if dp and all(v is not None for v in dp.values()):
            try:
                out += self.exact.get(
                    (data_spec_id, tuple(sorted(dp.items()))), [])
                out += [it for it in self.loose if it[1] == data_spec_id]
                # different spec ⇒ the overlap predicate is conservative
                # TRUE, so every cross-spec partitioned delete stays a
                # candidate (empty in the single-spec common case)
                for ds, lst in self.by_spec.items():
                    if ds != data_spec_id:
                        out += lst
                return out
            except TypeError:
                pass
        # vacuous/NULL-valued data partition: every partitioned delete
        # remains a candidate
        for lst in self.by_spec.values():
            out += lst
        return out


_STAT_FIELDS = ("column_sizes", "value_counts", "null_value_counts",
                "nan_value_counts", "lower_bounds", "upper_bounds",
                "split_offsets")


def strip_file_stats(df: "mf.DataFile") -> "mf.DataFile":
    """Copy of a pruning-complete DataFile without its per-column stat
    maps (r15 — VERDICT r14 task 2). Once a file is planned IN, the read
    itself needs only path/format/partition/row-count/size (+ delete
    routing fields); the six stat dicts are ~1 KB per entry and dominate
    the driver's retained memory at 1e6-entry scale. A fresh copy, never
    an in-place strip — manifest-cache objects are shared. An entry whose
    stats were never decoded loses its raw run undecoded."""
    if df.split_offsets is None and all(
            v is None for v in mf.stored_stats(df)):
        return df  # already stripped
    return dataclasses.replace(df, **dict.fromkeys(_STAT_FIELDS))


#: the task columns a lean plan leaves out: the stat maps and the split
#: offsets, which nothing reads once a file is planned in
_LEAN_DROPS = frozenset(_STAT_FIELDS + (avro_io.RAW,))

#: data-file formats the scan reads: the reference refuses everything
#: non-parquet (iceberg_multi_file_list.cpp:528-529); we additionally read
#: ORC through Spark's native source and Avro data files through the
#: arrow plane's pure-Python codec (r12)
_DATA_FORMATS = ("parquet", "orc", "avro")


def _check_delete_format(d: mf.DataFile) -> None:
    # r13: ORC/Avro delete files read through the arrow plane's
    # format routing (sources/scan.py _read) — beyond
    # the reference, which refuses everything non-parquet/puffin
    # (iceberg_delete_file_scanner.cpp:393-396)
    if (d.file_format or "PARQUET").lower() not in (
            "parquet", "puffin", "orc", "avro"):
        raise NotImplementedError(
            f"File format '{d.file_format}' not supported for deletes, "
            "only supports 'parquet', 'puffin', 'orc' and 'avro'")


def _scan_schema(tm: TableMetadata, snapshot: Snapshot,
                 snapshot_schema: bool | None) -> tuple[int, dict]:
    """(schema id, schema JSON) a scan of ``snapshot`` reads with.

    Latest-snapshot reads resolve against the table's CURRENT schema (a
    DDL-only commit advances current-schema-id without a new snapshot);
    the snapshot's schema-id applies to explicit (time-travel) lookups.
    ``snapshot_schema=None`` infers which one this is."""
    if snapshot_schema is None:
        cur = tm.current_snapshot()
        snapshot_schema = not (
            cur is not None and snapshot.snapshot_id == cur.snapshot_id)
    if snapshot_schema and snapshot.schema_id is not None:
        scan_schema_id = snapshot.schema_id
    else:
        scan_schema_id = tm.current_schema_id
    return scan_schema_id, tm.schemas.get(
        scan_schema_id, tm.schemas[tm.current_schema_id])


def _live_entries(entries, manifest_seq: Optional[int]):
    """The manifest's non-deleted entries, with null sequence numbers
    inherited from the manifest (Iceberg spec: sequence-number
    inheritance)."""
    for e in entries:
        if e.status == mf.STATUS_DELETED:
            continue
        if e.sequence_number is None:
            e.sequence_number = manifest_seq
        if e.file_sequence_number is None:
            e.file_sequence_number = manifest_seq
        yield e


def _check_data_formats(chunks: list) -> None:
    for _, cols in chunks:
        for fmt in set(mf.column(cols, "file_format", "PARQUET")):
            if (fmt or "PARQUET").lower() not in _DATA_FORMATS:
                raise NotImplementedError(
                    f"File format '{fmt}' not supported, "
                    "only supports 'parquet', 'orc' and 'avro' currently")


def _assemble_tasks(tm: TableMetadata, chunks: list, pos_deletes: list,
                    eq_deletes: list, filt: _FileFilter,
                    lean: bool) -> list[FileScanTask]:
    """FileScanTasks for the surviving data entries, given per data
    manifest as ``(spec id, columns)``: path localization and delete
    attachment (equality deletes are pruned through the plan's ``filt``;
    a lean plan's delete files lose their stats)."""
    from ..io import normalize_path

    has_deletes = bool(pos_deletes or eq_deletes)
    pos_idx = _DeleteIndex(pos_deletes)
    eq_idx = _DeleteIndex(eq_deletes)
    tasks: list[FileScanTask] = []
    for spec_id, cols in chunks:
        for df, seq in zip(mf.data_files(cols), cols["sequence_number"]):
            orig_path = df.file_path
            df.file_path = _localize(tm, orig_path)
            task = FileScanTask(df, seq or 0, spec_id,
                                first_row_id=df.first_row_id)
            tasks.append(task)
            if not has_deletes:
                continue
            data_paths = (orig_path, df.file_path)
            data_seq = seq or 0
            norm_paths = {normalize_path(p) for p in data_paths}
            for de, dspec in pos_idx.candidates(task, spec_id, norm_paths):
                # positional deletes apply at delete.seq >= data.seq
                # (reference: iceberg_file_pruner.cpp:340-356)
                if (de.sequence_number or 0) >= data_seq \
                        and _partitions_overlap(task, de, spec_id, dspec,
                                                data_paths) \
                        and _pos_delete_path_overlap(de, data_paths):
                    df2 = de.data_file
                    _check_delete_format(df2)
                    df2.file_path = _localize(tm, df2.file_path)
                    if df2.referenced_data_file:
                        # keep the DV ref joinable against the localized
                        # scan file column (moved tables record relative
                        # refs)
                        df2.referenced_data_file = _localize(
                            tm, df2.referenced_data_file)
                    task.positional_deletes.append(
                        strip_file_stats(df2) if lean else df2)
            for de, dspec in eq_idx.candidates(task, spec_id, norm_paths):
                # equality deletes apply strictly after: delete.seq > data.seq
                if (de.sequence_number or 0) > data_seq \
                        and _partitions_overlap(task, de, spec_id, dspec,
                                                data_paths) \
                        and _eq_delete_bounds_overlap(task, de,
                                                      filt.fields_by_id) \
                        and filt.eq_delete_matches(de):
                    df2 = de.data_file
                    _check_delete_format(df2)
                    df2.file_path = _localize(tm, df2.file_path)
                    task.equality_deletes.append(
                        ((de.sequence_number or 0),
                         strip_file_stats(df2) if lean else df2))
    return tasks


def plan_scan(
    tm: TableMetadata,
    snapshot: Optional[Snapshot],
    where: str | None = None,
    *,
    snapshot_schema: bool | None = None,
    lean: bool = False,
) -> ScanPlan:
    """Build the file-level scan plan for a snapshot on the driver (see
    _plan_scan; the TimeType capability probe is pinned for the pass so
    the per-bound decode loops don't pay a py4j conf round trip per file).

    ``lean=True`` plans tasks without per-column stats or split offsets
    (the manifest reader does not keep them past file pruning) — the
    scan/read path never consults them after pruning; callers that DO
    (scan_order's bound-ordered reads, statistics aggregation) must plan
    without it."""
    with ice_types.pinned_time_flag():
        return _plan_scan(tm, snapshot, where,
                          snapshot_schema=snapshot_schema, lean=lean)


def _data_manifest_reader(tm: TableMetadata, pred: P.Predicate,
                          schema_json: dict, where: str | None, lean: bool):
    """Per-task function for :func:`fanout.map_items` over the data
    manifests' ``(path, spec id, sequence number, first row id)`` items.
    Yields ``(live data entries, kept, delete entries)`` per manifest:
    ``kept`` holds the surviving rows' ``mf.TASK_COLUMNS`` (none of
    :data:`_LEAN_DROPS` when ``lean``), with inherited sequence numbers
    and first row ids, or is None; delete-content entries of a data
    manifest come as :class:`mf.ManifestEntry` objects for the caller to
    classify. One bound file filter per task."""
    names = [c for c in mf.TASK_COLUMNS if not (lean and c in _LEAN_DROPS)]
    deleted, deletes_content = mf.STATUS_DELETED, (
        mf.CONTENT_POSITION_DELETES, mf.CONTENT_EQUALITY_DELETES)

    def read(items):
        filt = _FileFilter(tm, pred, schema_json)
        debug = _log.isEnabledFor(logging.DEBUG)
        for path, spec_id, seq, first_row_id in items:
            spec = tm.partition_specs.get(spec_id, PartitionSpec(spec_id, []))
            cols = mf.read_manifest(_localize(tm, path)).columns
            status = mf.column(cols, "status", mf.STATUS_ADDED)
            content = mf.column(cols, "content")
            data, delete_rows = [], []
            for i, (s, c) in enumerate(zip(status, content)):
                if s != deleted:
                    (delete_rows if c in deletes_content else data).append(i)
            deletes = list(_live_entries(mf.manifest_entries(
                cols.take(delete_rows, cols.columns)), seq)) \
                if delete_rows else []
            decoded: dict = {}
            kept = filt.keep_rows(
                spec, cols.struct_names.get("partition", ()),
                mf.column(cols, "partition", ()),
                lambda i: mf.row_stats(cols, i), data, decoded)
            if debug and len(kept) < len(data):
                paths, keep = cols["file_path"], set(kept)
                for i in data:
                    if i not in keep:
                        _log.debug(
                            "skipped data_file %s: partition column with "
                            "transform [%s] or column bounds does not match "
                            "filter %r", paths[i],
                            ", ".join(f.transform for f in spec.fields), where)
            yield len(data), _kept_columns(
                cols, kept, names, seq, first_row_id, decoded), deletes

    return read


def _kept_columns(cols, kept: list, names: list, seq: Optional[int],
                  first_row_id: Optional[int], decoded: dict):
    """The ``names`` columns of a manifest's ``kept`` rows, with sequence
    numbers (Iceberg spec: sequence-number inheritance) and v3 first row
    ids inherited from the manifest (over the FULL manifest: offsets
    depend on every preceding ADDED entry). A row whose stats pruning
    decoded keeps them decoded."""
    if not kept:
        return None
    out = cols.take(kept, names)
    columns = out.columns
    seqs = columns.get("sequence_number")
    if seqs is None or None in seqs:
        columns["sequence_number"] = [
            seq if s is None else s for s in seqs or [None] * len(kept)]
    if first_row_id is not None and "first_row_id" in names:
        ids = mf.inherited_first_row_ids(
            mf.column(cols, "status", mf.STATUS_ADDED),
            mf.column(cols, "content"), mf.column(cols, "record_count"),
            mf.column(cols, "first_row_id"), first_row_id)
        columns["first_row_id"] = [ids[i] for i in kept]
    raw = cols.get(avro_io.RAW)
    if decoded and raw is not None and avro_io.RAW in columns:
        columns[avro_io.RAW] = [decoded.get(i, raw[i]) for i in kept]
    return out


def _plan_scan(
    tm: TableMetadata,
    snapshot: Optional[Snapshot],
    where: str | None = None,
    *,
    spark=None,
    manifest_threshold: Optional[int] = None,
    snapshot_schema: bool | None = None,
    lean: bool = False,
) -> ScanPlan:
    """Build the file-level scan plan for a snapshot.

    Manifest list → manifest pruning on the partition summaries → per
    data manifest read, row-lineage inheritance and file pruning →
    delete attachment. The data manifests go through
    :func:`fanout.map_items`: on the driver without ``spark``, on
    executors when more than ``manifest_threshold`` (default
    ``fanout.DRIVER_MAX``) survive pruning, and then ``stats`` gains
    ``distributed_manifests``. Delete manifests are read on the driver.

    ``snapshot_schema`` mirrors the reference's lookup-source semantics
    (iceberg_table_metadata.cpp GetSnapshot): an EXPLICIT snapshot lookup
    (by id or timestamp) reads with the snapshot's schema-id even when that
    snapshot is also the latest; a LATEST lookup reads the table's current
    schema. ``None`` keeps the legacy inference (snapshot schema only when
    the snapshot is not current)."""
    from .. import fanout

    pred = P.parse_where(where)
    stats = {"manifests_total": 0, "manifests_pruned": 0, "files_total": 0,
             "files_pruned": 0, "delete_files": 0, "estimated_rows": 0}
    if snapshot is None or not (snapshot.manifest_list or snapshot.manifests):
        return ScanPlan(tm, snapshot, [], where, None, stats)

    manifests = manifests_for_snapshot(tm, snapshot)
    stats["manifests_total"] = len(manifests)
    scan_schema_id, schema_json = _scan_schema(tm, snapshot, snapshot_schema)
    filt = _FileFilter(tm, pred, schema_json)

    matching: list[mf.ManifestFile] = []
    for m in manifests:
        if filt.manifest_matches(m):
            matching.append(m)
            continue
        # a delete manifest whose partitions can't overlap the filtered
        # data can be skipped entirely (prune_positional_deletes bench)
        stats["manifests_pruned"] += 1
        if _log.isEnabledFor(logging.DEBUG):
            _log.debug(
                "skipped manifest %s: partition field summaries do not "
                "match filter %r", m.manifest_path, where)

    items = [(m.manifest_path, m.partition_spec_id, m.sequence_number,
              m.first_row_id)
             for m in matching if m.content == mf.MANIFEST_DATA]
    if fanout.on_executors(spark, len(items), tm.location,
                           driver_max=manifest_threshold):
        stats["distributed_manifests"] = len(items)
    read = _data_manifest_reader(tm, pred, schema_json, where, lean)
    results = fanout.map_items(spark, items, read, io_path=tm.location,
                               driver_max=manifest_threshold)

    chunks: list = []  # (spec_id, kept columns) per data manifest
    pos_deletes: list[tuple[mf.ManifestEntry, int]] = []
    eq_deletes: list[tuple[mf.ManifestEntry, int]] = []
    for m in matching:
        if m.content == mf.MANIFEST_DATA:
            live, kept, deletes = next(results)
            stats["files_total"] += live
            stats["files_pruned"] += live - (len(kept) if kept else 0)
            if kept:
                chunks.append((m.partition_spec_id, kept))
        else:
            deletes = _live_entries(
                mf.read_manifest(_localize(tm, m.manifest_path)),
                m.sequence_number)
        for e in deletes:
            if e.data_file.content == mf.CONTENT_EQUALITY_DELETES:
                eq_deletes.append((e, m.partition_spec_id))
            else:
                pos_deletes.append((e, m.partition_spec_id))
    stats["delete_files"] = len(pos_deletes) + len(eq_deletes)
    _check_data_formats(chunks)

    def build(chunks):
        return _assemble_tasks(tm, chunks, pos_deletes, eq_deletes, filt,
                               lean)

    tasks = _PlannedTasks(chunks, build, bool(pos_deletes or eq_deletes))
    plan = ScanPlan(tm, snapshot, tasks, where, scan_schema_id, stats)
    stats["estimated_rows"] = plan.estimated_row_count()
    return plan
