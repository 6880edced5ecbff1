"""Iceberg table metadata: parse, resolve, snapshot-select, commit.

Mirrors the reference's metadata model
(reference: src/include/core/metadata/iceberg_table_metadata.hpp:36-156) and
its metadata-location resolution rules
(reference: src/core/metadata/iceberg_table_metadata.cpp:203-281):
``version-hint.text`` → explicit version → glob-latest guessing with the
``v%s%s.metadata.json`` name format and optional ``.gz`` codec.

Snapshot selection — latest, by id, by timestamp via the snapshot-log —
follows iceberg_table_metadata.cpp:23-143.

Every metadata change is a list of TableUpdates (the REST spec's
``add-snapshot``, ``set-properties``, ...); :func:`apply_updates` applies
them to a copy of the metadata, the way a REST server does. Commits on
plain filesystems create ``v{N+1}.metadata.json`` exclusively, then swap
``version-hint.text`` (``catalog/commit.py`` retries a lost race). The
create is atomic on local disk only; object stores get a check-then-write
(same caveat as the reference's version-hint guessing, documented in
SURVEY.md §7 risk register).
"""

from __future__ import annotations

import copy
import gzip
import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Optional

from . import types as ice_types
from .. import io as fio


@dataclass
class Snapshot:
    snapshot_id: int
    timestamp_ms: int
    manifest_list: str
    sequence_number: int = 0
    parent_snapshot_id: Optional[int] = None
    summary: dict = field(default_factory=dict)
    schema_id: Optional[int] = None
    first_row_id: Optional[int] = None
    #: legacy v1 'manifests' field: manifest paths embedded directly in the
    #: snapshot instead of a manifest list (deprecated spec form)
    manifests: list[str] = field(default_factory=list)

    @property
    def operation(self) -> str:
        return self.summary.get("operation", "append")

    def to_json(self) -> dict:
        out: dict[str, Any] = {
            "snapshot-id": self.snapshot_id,
            "sequence-number": self.sequence_number,
            "timestamp-ms": self.timestamp_ms,
            "manifest-list": self.manifest_list,
            "summary": self.summary or {"operation": "append"},
        }
        if self.parent_snapshot_id is not None:
            out["parent-snapshot-id"] = self.parent_snapshot_id
        if self.schema_id is not None:
            out["schema-id"] = self.schema_id
        if self.first_row_id is not None:
            out["first-row-id"] = self.first_row_id
        return out

    @staticmethod
    def from_json(j: dict) -> "Snapshot":
        return Snapshot(
            snapshot_id=j["snapshot-id"],
            timestamp_ms=j.get("timestamp-ms", 0),
            manifest_list=j.get("manifest-list", ""),
            sequence_number=j.get("sequence-number", 0),
            parent_snapshot_id=j.get("parent-snapshot-id"),
            summary=j.get("summary", {}),
            schema_id=j.get("schema-id"),
            first_row_id=j.get("first-row-id"),
            manifests=list(j.get("manifests", [])),
        )


@dataclass
class PartitionField:
    source_id: int
    field_id: int
    name: str
    transform: str

    def to_json(self) -> dict:
        return {
            "source-id": self.source_id,
            "field-id": self.field_id,
            "name": self.name,
            "transform": self.transform,
        }


@dataclass
class PartitionSpec:
    spec_id: int
    fields: list[PartitionField]

    def to_json(self) -> dict:
        return {"spec-id": self.spec_id, "fields": [f.to_json() for f in self.fields]}

    @staticmethod
    def from_json(j: dict) -> "PartitionSpec":
        return PartitionSpec(
            spec_id=j.get("spec-id", 0),
            fields=[
                PartitionField(f["source-id"], f["field-id"], f["name"], f["transform"])
                for f in j.get("fields", [])
            ],
        )

    @property
    def is_unpartitioned(self) -> bool:
        return not [f for f in self.fields if f.transform != "void"]


@dataclass
class SortField:
    source_id: int
    transform: str
    direction: str  # asc | desc
    null_order: str  # nulls-first | nulls-last


@dataclass
class SortOrder:
    order_id: int
    fields: list[SortField]

    def to_json(self) -> dict:
        return {
            "order-id": self.order_id,
            "fields": [
                {
                    "transform": f.transform,
                    "source-id": f.source_id,
                    "direction": f.direction,
                    "null-order": f.null_order,
                }
                for f in self.fields
            ],
        }

    @staticmethod
    def from_json(j: dict) -> "SortOrder":
        return SortOrder(
            order_id=j.get("order-id", 0),
            fields=[
                SortField(f["source-id"], f["transform"], f.get("direction", "asc"),
                          f.get("null-order", "nulls-first"))
                for f in j.get("fields", [])
            ],
        )


class TableMetadata:
    """In-memory Iceberg table metadata (driver-side, one per table)."""

    def __init__(self, j: dict, metadata_location: str | None = None) -> None:
        self.raw = j
        self.metadata_location = metadata_location
        self.format_version: int = j.get("format-version", 1)
        self.table_uuid: str = j.get("table-uuid", str(uuid.uuid4()))
        self.location: str = j.get("location", "")
        self.last_sequence_number: int = j.get("last-sequence-number", 0)
        self.last_updated_ms: int = j.get("last-updated-ms", 0)
        self.last_column_id: int = j.get("last-column-id", 0)
        self.next_row_id: int = j.get("next-row-id", 0)

        if "schemas" in j:
            self.schemas: dict[int, dict] = {
                s.get("schema-id", 0): s for s in j["schemas"]
            }
            self.current_schema_id: int = j.get("current-schema-id", 0)
        else:  # v1 single-schema form
            sch = dict(j.get("schema", {"type": "struct", "fields": []}))
            sch.setdefault("schema-id", 0)
            self.schemas = {sch["schema-id"]: sch}
            self.current_schema_id = sch["schema-id"]

        if "partition-specs" in j:
            self.partition_specs: dict[int, PartitionSpec] = {
                s.get("spec-id", 0): PartitionSpec.from_json(s) for s in j["partition-specs"]
            }
            self.default_spec_id: int = j.get("default-spec-id", 0)
        elif "partition-spec" in j:  # v1
            spec = PartitionSpec(0, [
                PartitionField(f["source-id"], f["field-id"], f["name"], f["transform"])
                for f in j["partition-spec"]
            ])
            self.partition_specs = {0: spec}
            self.default_spec_id = 0
        else:
            self.partition_specs = {0: PartitionSpec(0, [])}
            self.default_spec_id = 0
        self.last_partition_id: int = j.get(
            "last-partition-id",
            max([f.field_id for s in self.partition_specs.values() for f in s.fields], default=999),
        )

        self.sort_orders: dict[int, SortOrder] = {
            s.get("order-id", 0): SortOrder.from_json(s) for s in j.get("sort-orders", [])
        } or {0: SortOrder(0, [])}
        self.default_sort_order_id: int = j.get("default-sort-order-id", 0)

        self.properties: dict[str, str] = dict(j.get("properties", {}))
        self.current_snapshot_id: Optional[int] = j.get("current-snapshot-id")
        if self.current_snapshot_id == -1:
            self.current_snapshot_id = None
        self.snapshots: list[Snapshot] = [
            Snapshot.from_json(s) for s in j.get("snapshots", [])
        ]
        self.snapshot_log: list[dict] = list(j.get("snapshot-log", []))
        self.metadata_log: list[dict] = list(j.get("metadata-log", []))
        self.refs: dict[str, dict] = dict(j.get("refs", {}))

    # -- write-path helpers --------------------------------------------------
    def data_path(self) -> str:
        """Root for NEW data/delete/DV files: the ``write.data.path`` table
        property when set, else ``<location>/data`` (reference:
        iceberg_table_metadata.cpp:512-519 GetDataPath; honored by its
        insert/compaction/equality-delete writers)."""
        return (self.properties.get("write.data.path")
                or fio.join(self.location, "data"))

    def metadata_write_path(self) -> str:
        """Root for NEW manifests/manifest lists: the ``write.metadata.path``
        property when set, else ``<location>/metadata`` (reference:
        iceberg_table_metadata.cpp:521-529 GetMetadataPath). Deliberate
        divergence: version files (vN.metadata.json + version-hint) STAY at
        ``<location>/metadata`` — path-based resolution hardcodes that
        directory in BOTH engines (reference: iceberg_table_metadata.cpp:248
        joins "metadata" unconditionally on read), so redirecting them, as
        the reference's COPY flow does (iceberg_copy.cpp:141-145), strands
        the table for every path-based reader including itself. Redirecting
        only the bulky planning artifacts keeps the property's purpose
        (separate IO budget/lifecycle for metadata churn) without breaking
        self-resolution."""
        return (self.properties.get("write.metadata.path")
                or fio.join(self.location, "metadata"))

    # -- schema helpers ----------------------------------------------------
    def schema_json(self, schema_id: int | None = None) -> dict:
        sid = self.current_schema_id if schema_id is None else schema_id
        return self.schemas[sid]

    def spark_schema(self, schema_id: int | None = None):
        return ice_types.schema_to_struct(self.schema_json(schema_id))

    def field_by_id(self, field_id: int, schema_id: int | None = None) -> Optional[dict]:
        for f in self.schema_json(schema_id)["fields"]:
            if f["id"] == field_id:
                return f
        return None

    def field_path_by_id(self, field_id: int,
                         schema_id: int | None = None) -> Optional[tuple]:
        """(dotted path, leaf field json) for any field id, walking nested
        structs — needed to resolve equality-delete ids that reference a
        nested struct member (reference:
        equality_deletes/test_equality_delete_struct_field.test stores the
        DEEPEST field's id in equality_ids). Returns None for unknown ids
        and for fields nested inside lists/maps (not addressable as a
        column path)."""
        def walk(fields: list, prefix: str):
            for f in fields:
                name = prefix + f["name"]
                if f["id"] == field_id:
                    return name, f
                t = f["type"]
                if isinstance(t, dict) and t.get("type") == "struct":
                    hit = walk(t["fields"], name + ".")
                    if hit:
                        return hit
            return None

        return walk(self.schema_json(schema_id)["fields"], "")

    def field_by_name(self, name: str, schema_id: int | None = None) -> Optional[dict]:
        for f in self.schema_json(schema_id)["fields"]:
            if f["name"] == name:
                return f
        return None

    def default_spec(self) -> PartitionSpec:
        return self.partition_specs[self.default_spec_id]

    def default_sort_order(self) -> SortOrder:
        return self.sort_orders.get(self.default_sort_order_id, SortOrder(0, []))

    # -- snapshot selection (reference: iceberg_table_metadata.cpp:23-143) --
    def snapshot_by_id(self, snapshot_id: int) -> Snapshot:
        for s in self.snapshots:
            if s.snapshot_id == snapshot_id:
                return s
        raise KeyError(f"no snapshot with id {snapshot_id}")

    def snapshot_by_timestamp(self, ts_ms: int) -> Snapshot:
        # latest snapshot-log entry at-or-before ts
        best = None
        for entry in self.snapshot_log:
            if entry["timestamp-ms"] <= ts_ms and (
                best is None or entry["timestamp-ms"] > best["timestamp-ms"]
            ):
                best = entry
        if best is None:
            # fall back to scanning snapshots directly
            cands = [s for s in self.snapshots if s.timestamp_ms <= ts_ms]
            if not cands:
                raise KeyError(f"no snapshot at or before timestamp {ts_ms}")
            return max(cands, key=lambda s: s.timestamp_ms)
        return self.snapshot_by_id(best["snapshot-id"])

    def current_snapshot(self) -> Optional[Snapshot]:
        if self.current_snapshot_id is None:
            return None
        return self.snapshot_by_id(self.current_snapshot_id)

    def snapshot_by_ref(self, ref: str) -> Snapshot:
        """Resolve a branch or tag name from the metadata ``refs`` map."""
        r = self.refs.get(ref)
        if r is None:
            raise KeyError(f"no branch or tag {ref!r}")
        return self.snapshot_by_id(int(r["snapshot-id"]))

    def branch_head(self, name: str) -> Optional[int]:
        """The snapshot id branch ``name`` points at, or None when no ref
        of that name exists. A tag of that name raises: commits never
        move a tag."""
        r = self.refs.get(name)
        if r is None:
            return None
        if r.get("type") != "branch":
            raise ValueError(f"ref {name!r} is a tag, not a branch")
        return int(r["snapshot-id"])

    def select_snapshot(
        self,
        snapshot_id: int | None = None,
        as_of: Any = None,
        ref: str | None = None,
    ) -> Optional[Snapshot]:
        # the lookups are mutually exclusive — silently preferring one
        # would scan a different snapshot than the caller named
        # (reference: iceberg_multi_file_reader.cpp ParseOption rejects
        # snapshot_from_id + snapshot_from_timestamp together)
        if sum(x is not None for x in (snapshot_id, as_of, ref)) > 1:
            raise ValueError(
                "snapshot_id, as_of, and ref are mutually exclusive")
        if snapshot_id is not None:
            return self.snapshot_by_id(snapshot_id)
        if ref is not None:
            return self.snapshot_by_ref(ref)
        if as_of is not None:
            ts_ms = _to_ts_ms(as_of)
            return self.snapshot_by_timestamp(ts_ms)
        return self.current_snapshot()

    # -- serialization -----------------------------------------------------
    #: keys to_json rebuilds from parsed state; everything ELSE in the
    #: source JSON (e.g. `statistics` / `partition-statistics` entries
    #: another engine committed, future spec fields) passes through
    #: verbatim — committing through us must not silently strip planner
    #: stats Trino/Java Spark rely on. The v1 legacy spellings (`schema`,
    #: `partition-spec`) are listed too: we re-emit the list forms, and
    #: carrying a stale single-schema copy would corrupt the table.
    _KNOWN_KEYS = frozenset({
        "format-version", "table-uuid", "location", "last-sequence-number",
        "last-updated-ms", "last-column-id", "current-schema-id",
        "schemas", "schema", "default-spec-id", "partition-specs",
        "partition-spec", "last-partition-id", "default-sort-order-id",
        "sort-orders", "properties", "snapshots", "snapshot-log",
        "metadata-log", "refs", "current-snapshot-id", "next-row-id",
    })

    def to_json(self) -> dict:
        j: dict[str, Any] = {
            k: v for k, v in (self.raw or {}).items()
            if k not in self._KNOWN_KEYS
        }
        j |= {
            "format-version": self.format_version,
            "table-uuid": self.table_uuid,
            "location": self.location,
            "last-sequence-number": self.last_sequence_number,
            "last-updated-ms": self.last_updated_ms,
            "last-column-id": self.last_column_id,
            "current-schema-id": self.current_schema_id,
            "schemas": list(self.schemas.values()),
            "default-spec-id": self.default_spec_id,
            "partition-specs": [s.to_json() for s in self.partition_specs.values()],
            "last-partition-id": self.last_partition_id,
            "default-sort-order-id": self.default_sort_order_id,
            "sort-orders": [s.to_json() for s in self.sort_orders.values()],
            "properties": self.properties,
            "snapshots": [s.to_json() for s in self.snapshots],
            "snapshot-log": self.snapshot_log,
            "metadata-log": self.metadata_log,
            "refs": self.refs,
        }
        if self.current_snapshot_id is not None:
            j["current-snapshot-id"] = self.current_snapshot_id
        if self.format_version >= 3:
            j["next-row-id"] = self.next_row_id
        return j


#: the spec's optional retention fields of a snapshot ref
REF_RETENTION_KEYS = ("max-ref-age-ms", "max-snapshot-age-ms",
                      "min-snapshots-to-keep")


def _drop_stats(tm: TableMetadata, key: str, snapshot_ids) -> None:
    if tm.raw.get(key):
        tm.raw[key] = [s for s in tm.raw[key]
                       if int(s.get("snapshot-id", -1)) not in snapshot_ids]


def apply_updates(tm: TableMetadata, updates: list[dict]) -> TableMetadata:
    """Apply REST-spec TableUpdates to a copy of ``tm`` and return it; ``tm``
    itself is left as it was, so a commit that fails leaves the caller's
    metadata whole. A filesystem commit applies them here; a REST server
    applies the same list on its side. An unknown action raises."""
    new = copy.copy(tm)
    # every update below replaces nested values instead of mutating them,
    # so copying the top-level containers is enough
    for k, v in vars(tm).items():
        if isinstance(v, (dict, list)):
            setattr(new, k, v.copy())
    added: dict[int, int] = {}  # snapshot id → timestamp, this batch
    for u in updates:
        action = u["action"]
        if action == "add-snapshot":
            snap = Snapshot.from_json(u["snapshot"])
            new.snapshots.append(snap)
            new.last_sequence_number = max(new.last_sequence_number,
                                           snap.sequence_number)
            if snap.first_row_id is not None:
                rows = snap.summary.get("assigned-rows",
                                        snap.summary.get("added-records", 0))
                new.next_row_id = max(new.next_row_id,
                                      snap.first_row_id + int(rows))
            added[snap.snapshot_id] = snap.timestamp_ms
        elif action == "set-snapshot-ref":
            sid = u["snapshot-id"]
            new.refs[u["ref-name"]] = {
                "snapshot-id": sid, "type": u.get("type", "branch"),
                **{k: u[k] for k in REF_RETENTION_KEYS if k in u}}
            if u["ref-name"] == "main":
                new.current_snapshot_id = sid
                new.snapshot_log.append({
                    "timestamp-ms": added.get(sid, int(time.time() * 1000)),
                    "snapshot-id": sid})
        elif action == "remove-snapshot-ref":
            new.refs.pop(u["ref-name"], None)
        elif action == "remove-snapshots":
            dead = set(u["snapshot-ids"])
            new.snapshots = [s for s in new.snapshots
                             if s.snapshot_id not in dead]
            new.snapshot_log = [e for e in new.snapshot_log
                                if e.get("snapshot-id") not in dead]
            _drop_stats(new, "statistics", dead)
            _drop_stats(new, "partition-statistics", dead)
        elif action == "add-schema":
            new.schemas[u["schema"]["schema-id"]] = u["schema"]
            new.last_column_id = max(new.last_column_id,
                                     u.get("last-column-id", 0))
        elif action == "set-current-schema":
            new.current_schema_id = u["schema-id"]
        elif action == "add-spec":
            spec = PartitionSpec.from_json(u["spec"])
            new.partition_specs[spec.spec_id] = spec
            new.last_partition_id = max(
                [f.field_id for f in spec.fields] + [new.last_partition_id])
        elif action == "set-default-spec":
            new.default_spec_id = u["spec-id"]
        elif action == "add-sort-order":
            order = SortOrder.from_json(u["sort-order"])
            new.sort_orders[order.order_id] = order
        elif action == "set-default-sort-order":
            # order 0 is the spec's reserved 'unsorted' order
            if u["sort-order-id"] == 0:
                new.sort_orders.setdefault(0, SortOrder(0, []))
            new.default_sort_order_id = u["sort-order-id"]
        elif action == "set-properties":
            new.properties.update(u["updates"])
        elif action == "remove-properties":
            for k in u["removals"]:
                new.properties.pop(k, None)
        elif action == "upgrade-format-version":
            if u["format-version"] < new.format_version:
                raise ValueError("cannot downgrade format-version")
            new.format_version = u["format-version"]
        elif action in ("set-statistics", "set-partition-statistics",
                        "remove-statistics", "remove-partition-statistics"):
            key = action.split("-", 1)[1]
            _drop_stats(new, key, {u["snapshot-id"]})
            if action.startswith("set-"):
                new.raw[key] = new.raw.get(key, []) + [u[key]]
        else:
            raise ValueError(f"unsupported table update {action!r}")
    return new


def _to_ts_ms(v: Any) -> int:
    import datetime as dt

    if isinstance(v, (int, float)):
        return int(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return int(v.timestamp() * 1000)
    if isinstance(v, str):
        d = dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
        if d.tzinfo is None:
            d = d.replace(tzinfo=dt.timezone.utc)
        return int(d.timestamp() * 1000)
    raise ValueError(f"bad timestamp {v!r}")


# ---------------------------------------------------------------------------
# location resolution + IO
# ---------------------------------------------------------------------------

_VERSIONED_RE = re.compile(r"v(\d+)(?:\.gz)?\.metadata\.json(?:\.gz)?$")
_OBJSTORE_RE = re.compile(r"(\d+)-[0-9a-f-]+(?:\.gz)?\.metadata\.json(?:\.gz)?$")


def _read_text(path: str) -> str:
    data = fio.get_io(path).read_bytes(path)
    # sniff the gzip magic rather than trusting the extension: the
    # reference's gz-INFIX spelling ('v2.gz.metadata.json') doesn't end in
    # .gz, and custom version_name_format globs can resolve to it
    if path.endswith(".gz") or data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)
    return data.decode("utf-8")


#: reference default (iceberg_options.hpp DEFAULT_TABLE_VERSION_FORMAT):
#: comma-separated formats, each with exactly two %s — (version, gz suffix)
DEFAULT_VERSION_NAME_FORMAT = "v%s%s.metadata.json,%s%s.metadata.json"


def _validate_version_name_format(fmt: str) -> list[str]:
    # reference parity: iceberg_options.cpp:22-30 counts '%s' occurrences
    # over the WHOLE option string and requires exactly two — so a
    # multi-format value like the reference's own compiled-in default
    # ('v%s%s.metadata.json,%s%s.metadata.json', four occurrences) is
    # rejected when passed explicitly, while 'a%s.json,b%s.json' (one hole
    # per part, two total) is accepted. Quirky, but accept/reject behavior
    # matches the reference exactly (version_name_format_error.test).
    n = fmt.count("%s")
    if n != 2:
        raise ValueError(
            "'version_name_format' has to contain two occurrences of "
            f"'%s' in it, found {n}")
    return fmt.split(",")


def resolve_metadata_location(
    table_location: str,
    version: str | None = None,
    *,
    version_name_format: str | None = None,
    metadata_compression_codec: str = "",
) -> str:
    """Find the current metadata JSON for a filesystem or object-store table
    (reference: iceberg_table_metadata.cpp:203-281). All probes go through
    the pluggable FileIO, so ``s3://bucket/table`` resolves the same way a
    local path does.

    ``version_name_format`` is the reference's comma-separated candidate
    list, each entry with two ``%s`` holes — (version, compression suffix);
    ``metadata_compression_codec='gzip'`` substitutes ``.gz``. With neither
    given, the default probes both plain and gz spellings (superset of the
    reference default — existing mixed fixtures keep resolving)."""
    if table_location.endswith(".json") or table_location.endswith(".json.gz"):
        return table_location
    io = fio.get_io(table_location)
    meta_dir = fio.join(table_location, "metadata")
    if version_name_format is not None:
        formats = _validate_version_name_format(version_name_format)
        suffix = ".gz" if metadata_compression_codec == "gzip" else ""
        if version is None or version == "?":
            hint = fio.join(meta_dir, "version-hint.text")
            if io.exists(hint):
                version = _read_text(hint).strip()
        if version is not None and version != "?":
            tried = []
            for f in formats:
                cand = fio.join(meta_dir, f.replace("%s", "{}", 2)
                                .format(version, suffix))
                tried.append(cand)
                if io.exists(cand):
                    return cand
            raise FileNotFoundError(
                f"Iceberg metadata file not found for table version "
                f"'{version}' using '{metadata_compression_codec or 'none'}' "
                f"compression and format(s): '{version_name_format}', tried: "
                + ", ".join(tried))
        # guess latest, reference-exact (iceberg_table_metadata.cpp
        # GuessTableVersion/PickTableVersion): formats are tried IN ORDER
        # and the first format with any match wins; the version hole is a
        # '*' glob (any string, not just digits); among matches the
        # LEXICOGRAPHICALLY greatest path is picked (so 'v9' beats 'v10' —
        # quirky, but resolution agrees with the reference byte-for-byte).
        # Deviation: the reference additionally gates guessing behind the
        # unsafe_enable_version_guessing setting; this library has no
        # session-settings surface and its writer always maintains
        # version-hint.text, so guessing stays enabled as the documented
        # fallback.
        try:
            entries = list(io.list_files(meta_dir))
        except FileNotFoundError:
            entries = []
        for f in formats:
            pat = re.compile("^" + re.escape(f)
                             .replace(r"%s", r".*", 1)
                             .replace(r"%s", re.escape(suffix), 1) + "$")
            matches = [ent.path for ent in entries
                       if pat.match(os.path.basename(ent.path))]
            if matches:
                return max(matches)
        raise FileNotFoundError(
            f"no iceberg metadata matching '{version_name_format}' "
            f"under {meta_dir}")
    if version is not None and version != "?":
        for cand in (
            fio.join(meta_dir, f"v{version}.metadata.json"),
            fio.join(meta_dir, f"v{version}.gz.metadata.json"),
            fio.join(meta_dir, f"v{version}.metadata.json.gz"),
            # version-hint may carry an object-store-style full version name
            # ('00001-<uuid>') rather than a bare number
            fio.join(meta_dir, f"{version}.metadata.json"),
            fio.join(meta_dir, f"{version}.metadata.json.gz"),
        ):
            if io.exists(cand):
                return cand
        raise FileNotFoundError(f"metadata version {version} not found in {meta_dir}")
    hint = fio.join(meta_dir, "version-hint.text")
    if io.exists(hint):
        v = _read_text(hint).strip()
        if v.isdigit():
            # a writer that died between creating vN+1 and swapping the
            # hint leaves the hint behind the newest version; walk forward
            # like Java's HadoopTableOperations, or the next commit would
            # build on (and race for) a version that is already taken
            n = int(v)
            while io.exists(fio.join(meta_dir, f"v{n + 1}.metadata.json")):
                n += 1
            v = str(n)
        return resolve_metadata_location(table_location, v)
    # guess latest by listing (version_name_format='v%s%s.metadata.json' plus
    # the object-store '00000-uuid.metadata.json' style)
    best: tuple[int, str] | None = None
    try:
        entries = list(io.list_files(meta_dir))
    except FileNotFoundError:
        entries = []
    for ent in entries:
        base = os.path.basename(ent.path)
        m = _VERSIONED_RE.match(base) or _OBJSTORE_RE.match(base)
        if m:
            n = int(m.group(1))
            if best is None or n > best[0]:
                best = (n, ent.path)
    if best is None:
        raise FileNotFoundError(f"no iceberg metadata found under {meta_dir}")
    return best[1]


def load_table_metadata(
    table_location: str,
    version: str | None = None,
    *,
    version_name_format: str | None = None,
    metadata_compression_codec: str = "",
) -> TableMetadata:
    loc = resolve_metadata_location(
        table_location, version,
        version_name_format=version_name_format,
        metadata_compression_codec=metadata_compression_codec)
    try:
        j = json.loads(_read_text(loc))
    except json.JSONDecodeError as e:
        # corrupt/foreign file fed as metadata (reference fixture
        # data/persistent/bad_data): a user-facing error with the path, not
        # a bare JSON traceback
        raise ValueError(
            f"{loc}: not Iceberg table metadata (JSON parse failed: {e})"
        ) from None
    if not isinstance(j, dict) or "format-version" not in j:
        raise ValueError(
            f"{loc}: not Iceberg table metadata (missing 'format-version')")
    tm = TableMetadata(j, metadata_location=loc)
    if table_location.endswith((".json", ".json.gz")):
        root = os.path.dirname(os.path.dirname(table_location))
    else:
        root = table_location
    # The table root the CALLER resolved is where the table actually lives.
    # Foreign tables routinely record a stale or relative `location` (written
    # on another machine / from another working directory); planning against
    # it would read nothing. The reference's allow_moved_paths handles the
    # same situation (iceberg_scan.cpp:40-48) — here path localization
    # (_localize) rewrites manifest-recorded paths onto tm.location, so
    # tm.location must be the CURRENT root, not the recorded one.
    if root and root != "." and tm.location.rstrip("/") != root.rstrip("/"):
        tm.location = root
    if not tm.location:
        tm.location = root
    return tm


def _version_of(metadata_location: str | None) -> int:
    if not metadata_location:
        return 0
    base = os.path.basename(metadata_location)
    m = _VERSIONED_RE.match(base) or _OBJSTORE_RE.match(base)
    return int(m.group(1)) if m else 0


def current_version_number(table_location: str) -> int:
    try:
        return _version_of(resolve_metadata_location(table_location))
    except FileNotFoundError:
        return 0


def write_table_metadata(tm: TableMetadata, table_location: str) -> str:
    """Create ``v{N+1}.metadata.json``, N being the version ``tm`` was
    loaded from (0 for a table not yet on disk), then swap the version
    hint. Returns the path. The create is exclusive: when another writer
    already created that version this raises ``FileExistsError`` and
    leaves ``tm`` as it was — ``catalog.commit.FileTable`` reloads and
    retries. Only ``LocalFileIO`` makes the create atomic (see
    ``FileIO.create_exclusive``)."""
    io = fio.get_io(table_location)
    meta_dir = fio.join(table_location, "metadata")
    io.mkdirs(meta_dir)
    n = _version_of(tm.metadata_location) + 1
    metadata_log = list(tm.metadata_log)
    if tm.metadata_location and fio.get_io(tm.metadata_location).exists(tm.metadata_location):
        metadata_log.append(
            {"timestamp-ms": tm.last_updated_ms, "metadata-file": tm.metadata_location}
        )
    now_ms = int(time.time() * 1000)
    j = tm.to_json()
    j["metadata-log"], j["last-updated-ms"] = metadata_log, now_ms
    path = fio.join(meta_dir, f"v{n}.metadata.json")
    io.create_exclusive(path, json.dumps(j, indent=1).encode("utf-8"))
    io.write_bytes(fio.join(meta_dir, "version-hint.text"), str(n).encode())
    tm.metadata_log, tm.last_updated_ms = metadata_log, now_ms
    tm.metadata_location = path
    return path
