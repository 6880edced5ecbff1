"""DDL: schema evolution and table/namespace properties.

Mirrors the reference's ALTER surface
(reference: src/catalog/rest/catalog_entry/schema/iceberg_schema_entry.cpp —
ADD COLUMN :410, DROP COLUMN :448, ALTER TYPE widening :488-497, RENAME
COLUMN :522, SET/DROP NOT NULL :505-509) and the property table functions
(reference: src/function/metadata/iceberg_table_properties_functions.cpp:268-291).

Every evolution appends a NEW schema with a new schema-id and flips
``current-schema-id`` — old data files remain readable because scans resolve
columns by field-id (the new schema keeps the original ids; a renamed column
keeps its id, an added column gets a fresh id that old files simply lack)."""

from __future__ import annotations

import copy
from typing import Any

from pyspark.sql import types as T

from ..catalog.commit import committer, resolve_table
from ..metadata import types as ice_types
from ..metadata.table_metadata import TableMetadata

_WIDENINGS = {
    ("int", "long"),
    ("float", "double"),
}


def _commit(table, updates: list, *requirements: dict) -> TableMetadata:
    """Commit ``updates`` (TableUpdates, the reference's
    iceberg_schema_entry.cpp Alter flow) through ``table`` — a REST
    CommitTableRequest or the next filesystem metadata version — guarded
    by the table uuid plus ``requirements``. Returns the committed
    metadata."""
    table.commit_table(
        [{"type": "assert-table-uuid", "uuid": table.metadata.table_uuid},
         *requirements], updates)
    return table.metadata


def _next_schema(tm: TableMetadata) -> dict:
    sch = copy.deepcopy(tm.schema_json())
    sch["schema-id"] = max(tm.schemas) + 1
    return sch


def _commit_schema(table, sch: dict,
                   last_column_id: int | None = None) -> TableMetadata:
    tm = table.metadata
    return _commit(table, [
        {"action": "add-schema", "schema": sch,
         "last-column-id": (tm.last_column_id if last_column_id is None
                            else last_column_id)},
        {"action": "set-current-schema", "schema-id": sch["schema-id"]},
    ], {"type": "assert-current-schema-id",
        "current-schema-id": tm.current_schema_id})


def add_column(location: str, name: str, ice_type: Any, *, required: bool = False,
               doc: str | None = None, default: Any = None) -> TableMetadata:
    """ADD COLUMN. A dotted ``name`` (``parent.child``) adds a member inside
    an existing struct column — a capability beyond the reference, which
    rejects nested adds (iceberg_schema_entry.cpp:414). ``default`` sets
    ``initial-default`` and ``write-default`` (JSON single-value form, v3
    column defaults; reference: iceberg_column_definition.cpp:26-75) —
    existing rows then surface the default instead of NULL, and a required
    add is allowed."""
    table = resolve_table(location)
    tm = table.metadata
    sch = _next_schema(tm)
    parts = name.split(".")
    fields = sch["fields"]
    for p in parts[:-1]:
        parent = next((f for f in fields if f["name"] == p), None)
        if parent is None or not (isinstance(parent["type"], dict)
                                  and parent["type"].get("type") == "struct"):
            raise KeyError(f"no struct column {p!r} to add into")
        fields = parent["type"]["fields"]
    leaf = parts[-1]
    if any(f["name"] == leaf for f in fields):
        raise ValueError(f"column {name!r} already exists")
    if required and default is None:
        raise ValueError("adding a required column to existing rows needs a default; "
                         "add as optional (reference enforces the same)")
    last_id = tm.last_column_id
    if isinstance(ice_type, T.DataType):
        alloc = ice_types._IdAllocator(last_id)
        ice_type = ice_types.spark_to_iceberg(ice_type, alloc)
        last_id = alloc.last
    fid = last_id + 1
    f: dict[str, Any] = {"id": fid, "name": leaf, "required": bool(required),
                         "type": ice_type}
    if default is not None:
        _validate_default(ice_type, default)
        f["initial-default"] = default
        f["write-default"] = default
    if doc:
        f["doc"] = doc
    fields.append(f)
    return _commit_schema(table, sch, fid)


def _navigate_struct(sch: dict, dotted: str) -> tuple[list[dict], str]:
    """Resolve a dotted column path to (parent fields list, leaf name).

    Paths traverse struct members by name and descend through containers
    with the Iceberg path vocabulary: ``element`` (list), ``key``/``value``
    (map) — so ``people.element.age`` reaches the ``age`` member of a
    ``list<struct<...>>`` column, matching the evolved Spark tables the
    reference reads (schema_evolve_struct_in_list.test /
    schema_evolve_struct_in_map.test).

    Iceberg field names may legally CONTAIN dots: an exact top-level name
    match wins before the dotted-path traversal, so a column literally
    named ``a.b`` stays addressable from every DDL entry point."""
    if any(f["name"] == dotted for f in sch["fields"]):
        return sch["fields"], dotted
    parts = dotted.split(".")
    fields = sch["fields"]
    i = 0
    while i < len(parts) - 1:
        p = parts[i]
        f = next((x for x in fields if x["name"] == p), None)
        if f is None:
            raise KeyError(f"no struct column {p!r}")
        t = f["type"]
        i += 1
        # unwrap container hops named in the path
        while (isinstance(t, dict) and t.get("type") in ("list", "map")
               and i < len(parts)):
            hop = parts[i]
            if t["type"] == "list" and hop == "element":
                t = t["element"]
            elif t["type"] == "map" and hop in ("key", "value"):
                t = t[hop]
            else:
                break
            i += 1
        if i > len(parts) - 1:
            raise KeyError(f"path {dotted!r} ends inside a container")
        if not (isinstance(t, dict) and t.get("type") == "struct"):
            raise KeyError(f"no struct column {p!r}")
        fields = t["fields"]
    return fields, parts[-1]


def drop_column(location: str, name: str) -> TableMetadata:
    """DROP COLUMN; dotted paths drop struct members (beyond the reference,
    which handles top level only — iceberg_schema_entry.cpp:448)."""
    table = resolve_table(location)
    tm = table.metadata
    sch = _next_schema(tm)
    fields, leaf = _navigate_struct(sch, name)
    victim = next((f for f in fields if f["name"] == leaf), None)
    if victim is None:
        raise KeyError(f"no column {name!r}")
    for spec in tm.partition_specs.values():
        if any(pf.source_id == victim["id"] for pf in spec.fields):
            raise ValueError(f"cannot drop partition source column {name!r}")
    fields.remove(victim)
    return _commit_schema(table, sch)


def rename_column(location: str, old: str, new: str) -> TableMetadata:
    """Field-id is preserved, so old files keep resolving (BY_FIELD_ID).
    A dotted ``old`` renames a struct member in place; ``new`` is the bare
    new name within the same parent."""
    table = resolve_table(location)
    tm = table.metadata
    sch = _next_schema(tm)
    if "." in new:
        raise ValueError("new name must be a bare name, not a path")
    fields, leaf = _navigate_struct(sch, old)
    if any(f["name"] == new for f in fields):
        raise ValueError(f"column {new!r} already exists")
    hit = False
    for f in fields:
        if f["name"] == leaf:
            f["name"] = new
            hit = True
    if not hit:
        raise KeyError(f"no column {old!r}")
    return _commit_schema(table, sch)


def widen_column(location: str, name: str, new_type: str) -> TableMetadata:
    """ALTER TYPE — widenings only: int→long, float→double, decimal
    scale-preserving precision increase, and date→timestamp
    (date→timestamp_ns is v3-only), per
    iceberg_schema_entry.cpp VerifySchemaEvolution:173-255. Refused when
    the column sources a sort-order field (any change) or, for the date
    promotions, a partition field — the transform's serialized values
    would silently change meaning."""
    table = resolve_table(location)
    tm = table.metadata
    sch = _next_schema(tm)
    fields, leaf = _navigate_struct(sch, name)
    for f in fields:
        if f["name"] != leaf:
            continue
        old_t = f["type"]
        order = tm.default_sort_order()
        if any(sf.source_id == f["id"] for sf in order.fields):
            raise ValueError(
                f"cannot alter {name!r}: a sort order refers to the column")
        ok = (old_t, new_type) in _WIDENINGS
        if not ok and isinstance(old_t, str) and old_t.startswith("decimal") and new_type.startswith("decimal"):
            op, os_ = ice_types.decimal_precision_scale(old_t)
            np_, ns_ = ice_types.decimal_precision_scale(new_type)
            ok = ns_ == os_ and np_ >= op
        if not ok and old_t == "date" and new_type in ("timestamp", "timestamp_ns"):
            for spec in tm.partition_specs.values():
                if any(pf.source_id == f["id"] for pf in spec.fields):
                    raise ValueError(
                        f"cannot alter {name!r}: a partition field refers "
                        "to the column")
            if new_type == "timestamp_ns" and tm.format_version < 3:
                raise ValueError(
                    "DATE to TIMESTAMP_NS is an Iceberg V3 feature")
            ok = True
        if not ok:
            raise ValueError(f"cannot widen {old_t} → {new_type}")
        f["type"] = new_type
        return _commit_schema(table, sch)
    raise KeyError(f"no column {name!r}")


def set_column_doc(location: str, name: str, doc: str | None) -> TableMetadata:
    """COMMENT ON COLUMN — set (or clear with ``None``) a column's ``doc``
    (reference: alter_column_comment.test / test_column_doc_comment.test;
    surfaced there via duckdb_columns().comment, here via
    ``describe_table``). Dotted paths comment struct members."""
    table = resolve_table(location)
    tm = table.metadata
    sch = _next_schema(tm)
    fields, leaf = _navigate_struct(sch, name)
    hit = next((f for f in fields if f["name"] == leaf), None)
    if hit is None:
        raise KeyError(f"no column {name!r}")
    if doc is None:
        hit.pop("doc", None)
    else:
        hit["doc"] = str(doc)
    return _commit_schema(table, sch)


def set_column_default(location: str, name: str, default: Any) -> TableMetadata:
    """ALTER COLUMN … SET DEFAULT <literal> / DROP DEFAULT (``None``).

    Only ``write-default`` changes — ``initial-default`` is immutable after
    creation (it backfills pre-existing rows), so existing data is
    untouched (reference: alter_default.test). Spec quirk the reference
    documents in that test: ``write-default`` has no explicit null form, so
    after DROP DEFAULT inserts fall back to ``initial-default`` when one
    exists. ``default`` is the JSON single-value form (plain python
    bool/int/float/str)."""
    table = resolve_table(location)
    tm = table.metadata
    sch = _next_schema(tm)
    fields, leaf = _navigate_struct(sch, name)
    hit = next((f for f in fields if f["name"] == leaf), None)
    if hit is None:
        raise KeyError(f"no column {name!r}")
    if default is None:
        hit.pop("write-default", None)
    else:
        if not isinstance(default, (bool, int, float, str)):
            raise NotImplementedError(
                "Only foldable expressions are allowed as DEFAULT values")
        _validate_default(hit["type"], default)
        hit["write-default"] = default
    return _commit_schema(table, sch)


def _validate_default(ice_type: Any, v: Any) -> None:
    """A DEFAULT must cast to the column's type AT DDL TIME (reference:
    alter_add_column_default_type_error.test — 'Failed to cast value:
    Could not convert …'), never fail later at read/insert."""
    if not isinstance(ice_type, str):
        raise NotImplementedError("DEFAULT on nested types is unsupported")
    name = ice_types.primitive_name(ice_type)
    try:
        if name in ("int", "long"):
            if isinstance(v, bool):
                raise ValueError(v)
            # base 10, not 0: a plain decimal cast accepts '042' and
            # rejects '0x2a', matching the reference's semantics
            # (ADVICE r10)
            iv = int(v, 10) if isinstance(v, str) else int(v)
            if isinstance(v, float) and v != iv:
                raise ValueError(v)
            lim = 31 if name == "int" else 63
            if not -(1 << lim) <= iv < (1 << lim):
                raise ValueError(v)
        elif name in ("float", "double"):
            float(v)
        elif name == "boolean":
            if not (isinstance(v, bool)
                    or str(v).lower() in ("true", "false")):
                raise ValueError(v)
        elif name == "string":
            pass
        else:
            # date/time/timestamps/decimal/fixed/binary: the JSON
            # single-value parser is the cast
            ice_types.json_default_to_python(ice_type, v)
    except (ValueError, ArithmeticError, TypeError):
        raise ValueError(
            f"Failed to cast value: Could not convert {v!r} to {ice_type}"
        ) from None


def set_not_null(location: str, name: str, required: bool) -> TableMetadata:
    """SET/DROP NOT NULL; dotted paths reach struct members like the other
    DDL entry points."""
    table = resolve_table(location)
    tm = table.metadata
    sch = _next_schema(tm)
    fields, leaf = _navigate_struct(sch, name)
    for f in fields:
        if f["name"] == leaf:
            f["required"] = required
            return _commit_schema(table, sch)
    raise KeyError(f"no column {name!r}")


# -- properties (reference: iceberg_table_properties_functions.cpp) ---------

def table_properties(location) -> dict[str, str]:
    return dict(resolve_table(location).metadata.properties)


def set_table_properties(location: str, props: dict[str, str]) -> TableMetadata:
    """'format-version' is not a plain property: setting it upgrades the
    table format (the reference intercepts it in SET options the same way,
    iceberg_schema_entry.cpp:578-599)."""
    props = dict(props)
    fv = props.pop("format-version", None)
    if fv is not None:
        upgrade_format_version(location, int(fv))
    table = resolve_table(location)
    tm = table.metadata
    if props:
        return _commit(table, [{
            "action": "set-properties",
            "updates": {str(k): str(v) for k, v in props.items()}}])
    return tm


def upgrade_format_version(location: str, new_version: int = 3) -> TableMetadata:
    """ALTER TABLE SET ('format-version'=N) — upgrade the table format
    (reference: test_upgrade_format_version_2_to_3.test; downgrade guard at
    iceberg_schema_entry.cpp:594). Upgrading to v3 enables row lineage:
    the FIRST v3 commit retroactively assigns first-row-ids to the
    carried-forward manifests (commit_snapshot), so pre-upgrade rows get
    their file positions as stable _row_id values — no data rewrite."""
    table = resolve_table(location)
    tm = table.metadata
    cur = tm.format_version
    if new_version < cur:
        raise ValueError(
            f"Cannot downgrade format-version from {cur} to {new_version}")
    if new_version not in (1, 2, 3):
        raise ValueError(f"unsupported format-version {new_version}")
    if new_version == cur:
        return tm
    return _commit(table, [{"action": "upgrade-format-version",
                            "format-version": new_version}])


def remove_table_properties(location, keys: list[str]) -> TableMetadata:
    return _commit(resolve_table(location),
                   [{"action": "remove-properties", "removals": list(keys)}])


# -- partition-spec / sort-order evolution ----------------------------------

def set_partitioned_by(location: str, partition_by: list[str]) -> TableMetadata:
    """SET PARTITIONED BY — partition-spec evolution (reference:
    iceberg_schema_entry.cpp:388). Appends a new spec with a fresh spec-id
    and flips ``default-spec-id``; writes after this use the new layout while
    existing data files keep their original spec (scans plan partition
    constants and pruning per-file by spec-id). Accepts the same transform
    strings as ``write_iceberg(partition_by=...)``, e.g.
    ``["l_shipmode", "bucket(4, l_orderkey)", "month(d)"]``."""
    from .writer import parse_partition_by

    table = resolve_table(location)
    tm = table.metadata
    spec = parse_partition_by(partition_by, tm.schema_json(),
                              start_field_id=tm.last_partition_id + 1)
    # spec ids and field ids derive from the default spec this read: a
    # concurrent spec change must conflict, not be overwritten
    base = {"type": "assert-default-spec-id",
            "default-spec-id": tm.default_spec_id}
    # identical field layout → reuse an existing spec instead of a new id
    for existing in tm.partition_specs.values():
        if [(f.source_id, f.transform) for f in existing.fields] == \
           [(f.source_id, f.transform) for f in spec.fields]:
            return _commit(table, [{"action": "set-default-spec",
                                    "spec-id": existing.spec_id}], base)
    spec.spec_id = max(tm.partition_specs) + 1
    return _commit(table, [
        {"action": "add-spec", "spec": spec.to_json()},
        {"action": "set-default-spec", "spec-id": spec.spec_id},
    ], base)


def set_sorted_by(location: str, sort_by: list) -> TableMetadata:
    """SET SORTED BY — sort-order evolution (reference:
    iceberg_schema_entry.cpp:399). Appends a new order with a fresh order-id
    and flips ``default-sort-order-id``; subsequent writes sort within
    partitions by it (iceberg_insert.cpp:497-511). ``sort_by`` entries are
    column names or transform expressions ('day(ts)', 'bucket(4, k)' — the
    reference's sorting/ suite), optionally as
    ``(expr, "asc"|"desc"[, "nulls-first"|"nulls-last"])``; ``[]``
    unsorts."""
    from .writer import parse_sort_by

    table = resolve_table(location)
    tm = table.metadata
    order = parse_sort_by(sort_by, tm.schema_json())
    base = {"type": "assert-default-sort-order-id",
            "default-sort-order-id": tm.default_sort_order_id}
    if not order.fields:
        return _commit(table, [{"action": "set-default-sort-order",
                                "sort-order-id": 0}], base)
    for existing in tm.sort_orders.values():
        if [(f.source_id, f.transform, f.direction, f.null_order)
                for f in existing.fields] == \
           [(f.source_id, f.transform, f.direction, f.null_order)
                for f in order.fields]:
            return _commit(table, [{"action": "set-default-sort-order",
                                    "sort-order-id": existing.order_id}],
                           base)
    order.order_id = max(tm.sort_orders) + 1
    return _commit(table, [
        {"action": "add-sort-order", "sort-order": order.to_json()},
        {"action": "set-default-sort-order",
         "sort-order-id": order.order_id},
    ], base)


# -- snapshot refs: branches and tags ---------------------------------------

def create_tag(location: str, name: str, snapshot_id: int | None = None,
               *, max_ref_age_ms: int | None = None) -> TableMetadata:
    """Tag a snapshot (defaults to current). Tags are immutable pointers;
    scans resolve them via ``iceberg_scan(..., ref=name)``. Per the spec a
    tag's only retention knob is ``max-ref-age-ms`` (when exceeded,
    ``expire_snapshots`` drops the tag itself)."""
    return _set_ref(location, name, "tag", snapshot_id, max_ref_age_ms)


def create_branch(location: str, name: str, snapshot_id: int | None = None,
                  *, max_ref_age_ms: int | None = None,
                  min_snapshots_to_keep: int | None = None,
                  max_snapshot_age_ms: int | None = None) -> TableMetadata:
    """Create a branch pointer at a snapshot (defaults to current).

    The three spec retention fields (snapshot-reference in the table-spec;
    the reference models them at rest_catalog/objects/snapshot_reference.cpp)
    govern what ``expire_snapshots`` may remove: ``max_ref_age_ms`` bounds
    the branch's own lifetime, ``min_snapshots_to_keep`` /
    ``max_snapshot_age_ms`` bound how much of the branch's ancestor history
    survives expiry."""
    return _set_ref(location, name, "branch", snapshot_id, max_ref_age_ms,
                    min_snapshots_to_keep, max_snapshot_age_ms)


def _set_ref(location, name: str, kind: str,
             snapshot_id: int | None, max_ref_age_ms: int | None,
             min_snapshots_to_keep: int | None = None,
             max_snapshot_age_ms: int | None = None) -> TableMetadata:
    table = resolve_table(location)
    tm = table.metadata
    if snapshot_id is None:
        cur = tm.current_snapshot()
        if cur is None:
            raise ValueError("table has no snapshots to reference")
        snapshot_id = cur.snapshot_id
    else:
        tm.snapshot_by_id(snapshot_id)  # validates existence
    upd = {"action": "set-snapshot-ref", "ref-name": name, "type": kind,
           "snapshot-id": snapshot_id}
    for key, val in (("max-ref-age-ms", max_ref_age_ms),
                     ("min-snapshots-to-keep", min_snapshots_to_keep),
                     ("max-snapshot-age-ms", max_snapshot_age_ms)):
        if val is not None:
            upd[key] = int(val)
    return _commit(table, [upd])


def _is_ancestor(tm: TableMetadata, maybe_ancestor: int, head: int) -> bool:
    """Walk the parent chain from ``head``; True if ``maybe_ancestor``
    appears (inclusive). Bounded by snapshot-history length."""
    by_id = {s.snapshot_id: s for s in tm.snapshots}
    cur: int | None = head
    seen: set[int] = set()
    while cur is not None and cur not in seen:
        if cur == maybe_ancestor:
            return True
        seen.add(cur)
        s = by_id.get(cur)
        cur = s.parent_snapshot_id if s is not None else None
    return False


def fast_forward(location, branch: str, to: str | int) -> TableMetadata:
    """Publish step of Write-Audit-Publish (the Spark
    ``system.fast_forward`` procedure analogue): move ``branch`` to the
    head of ``to`` (a ref name or snapshot id), REQUIRING the branch's
    current head to be an ancestor of the target — a non-linear move
    must go through an explicit rollback instead. Fast-forwarding
    ``main`` also advances current-snapshot-id and the snapshot log, so
    plain scans and timestamp time travel see the published state."""
    table = resolve_table(location)
    tm = table.metadata
    if isinstance(to, str):
        ref = tm.refs.get(to)
        if ref is None:
            raise KeyError(f"no branch or tag {to!r}")
        target = int(ref["snapshot-id"])
    else:
        target = int(to)
        tm.snapshot_by_id(target)  # validates existence
    head = tm.branch_head(branch)
    if head is not None and not _is_ancestor(tm, head, target):
        raise ValueError(
            f"cannot fast-forward {branch!r}: its head {head} is not "
            f"an ancestor of {target}")
    if branch == "main":
        head = tm.current_snapshot_id
    # the ancestry check above holds only while the branch stays put
    return _commit(table, [{"action": "set-snapshot-ref",
                            "ref-name": branch, "type": "branch",
                            "snapshot-id": target}],
                   {"type": "assert-ref-snapshot-id", "ref": branch,
                    "snapshot-id": head})


def rollback_to_snapshot(location, snapshot_id: int) -> TableMetadata:
    """Point main back at an ANCESTOR snapshot (the Spark
    ``system.rollback_to_snapshot`` procedure analogue). Later snapshots
    stay in metadata (expire_snapshots reclaims them); the snapshot log
    records the rollback so timestamp travel stays truthful."""
    table = resolve_table(location)
    tm = table.metadata
    tm.snapshot_by_id(snapshot_id)
    cur = tm.current_snapshot()
    if cur is not None and not _is_ancestor(tm, snapshot_id,
                                            cur.snapshot_id):
        raise ValueError(
            f"snapshot {snapshot_id} is not an ancestor of the current "
            f"snapshot {cur.snapshot_id}; use set_current_snapshot for "
            "non-linear moves")
    return _commit(table, [_set_main(snapshot_id)],
                   {"type": "assert-ref-snapshot-id", "ref": "main",
                    "snapshot-id": tm.current_snapshot_id})


def _set_main(snapshot_id: int) -> dict:
    # on main, applying it also moves current-snapshot-id and appends to
    # the snapshot log, so timestamp travel sees the move
    return {"action": "set-snapshot-ref", "ref-name": "main",
            "type": "branch", "snapshot-id": snapshot_id}


def set_current_snapshot(location, snapshot_id: int) -> TableMetadata:
    """Point main at ANY existing snapshot, ancestry-free (the Spark
    ``system.set_current_snapshot`` procedure analogue — the escape hatch
    rollback_to_snapshot refuses)."""
    table = resolve_table(location)
    table.metadata.snapshot_by_id(snapshot_id)
    return _commit(table, [_set_main(snapshot_id)])


def cherrypick_snapshot(location, snapshot_id: int) -> TableMetadata:
    """Apply one snapshot's ADDED files as a NEW commit on the current
    main head (the Spark ``system.cherrypick_snapshot`` procedure, NEW
    r13) — the other half of the Write-Audit-Publish idiom: where
    fast_forward publishes a whole linear branch, cherrypick publishes a
    SINGLE staged snapshot (possibly out of order, possibly from an
    abandoned branch) without moving any ref onto foreign lineage.

    Iceberg's restrictions apply: only APPEND snapshots cherry-pick (a
    delete/overwrite replayed onto a diverged head could resurrect or
    double-delete rows); a snapshot already in main's ancestry refuses
    (CherrypickAncestorCommitException's analogue); a snapshot whose
    ``wap.id`` was already published refuses (duplicate-WAP guard). The
    new snapshot's summary records ``source-snapshot-id`` and inherits
    the source's ``wap.id``, like Iceberg's CherryPickOperation."""
    from ..metadata import manifest as mf
    from ..plans.scan_plan import _localize
    from .writer import commit_snapshot as _commit_snapshot

    table = resolve_table(location)
    tm = table.metadata
    src = tm.snapshot_by_id(int(snapshot_id))
    if src.operation != "append":
        raise ValueError(
            f"cannot cherry-pick snapshot {snapshot_id}: only append "
            f"snapshots can be cherry-picked, not {src.operation!r}")
    cur = tm.current_snapshot()
    if cur is not None and _is_ancestor(tm, int(snapshot_id),
                                        cur.snapshot_id):
        raise ValueError(
            f"cannot cherry-pick snapshot {snapshot_id}: it is already "
            "an ancestor of the current snapshot")
    wap_id = (src.summary or {}).get("wap.id")
    if wap_id and cur is not None:
        by_id = {s.snapshot_id: s for s in tm.snapshots}
        sid = cur.snapshot_id
        seen: set[int] = set()
        while sid is not None and sid in by_id and sid not in seen:
            seen.add(sid)
            s = by_id[sid]
            if (s.summary or {}).get("wap.id") == wap_id:
                raise ValueError(
                    f"cannot cherry-pick snapshot {snapshot_id}: "
                    f"wap.id {wap_id!r} was already published as "
                    f"snapshot {s.snapshot_id}")
            sid = s.parent_snapshot_id

    # the files the source snapshot ADDED (its delta — carried-forward
    # manifests from its own parent are NOT part of the pick)
    added: list[mf.DataFile] = []
    for m in mf.read_manifest_list(_localize(tm, src.manifest_list)):
        if m.content != mf.MANIFEST_DATA or m.added_files_count == 0:
            continue
        for e in mf.read_manifest(_localize(tm, m.manifest_path)):
            if e.status == mf.STATUS_ADDED \
                    and e.snapshot_id == src.snapshot_id:
                added.append(e.data_file)
    if not added:
        raise ValueError(
            f"cannot cherry-pick snapshot {snapshot_id}: it added no "
            "data files")

    extra = {"source-snapshot-id": str(snapshot_id)}
    if wap_id:
        extra["wap.id"] = wap_id
    _commit_snapshot(tm, operation="append", new_data_files=added,
                     extra_summary=extra,
                     commit_fn=committer(table, "append"))
    return table.metadata


def drop_ref(location, name: str, kind: str | None = None) -> TableMetadata:
    """Drop a branch or tag. ``kind`` ('branch' | 'tag'), when given,
    must match the ref's recorded type — DROP BRANCH on a tag (or vice
    versa) is an error, not a silent cross-kind drop (ADVICE r12)."""
    table = resolve_table(location)
    tm = table.metadata
    if name == "main":
        raise ValueError("cannot drop the main branch")
    if name not in tm.refs:
        raise KeyError(f"no branch or tag {name!r}")
    actual = (tm.refs[name] or {}).get("type")
    if kind is not None and actual != kind:
        raise ValueError(
            f"ref {name!r} is a {actual}, not a {kind}; "
            f"use DROP {str(actual).upper()}")
    return _commit(table, [{"action": "remove-snapshot-ref",
                            "ref-name": name}])
