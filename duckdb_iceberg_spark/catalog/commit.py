"""One commit protocol for every table: requirements + TableUpdates
(reference: iceberg_transaction.cpp:93-124,184-203). A table exposes
``metadata``, ``refresh()`` and ``commit_table(requirements, updates)``:
``RestTable`` POSTs a CommitTableRequest, :class:`FileTable` creates the
next metadata version itself, and a catalog-transaction table applies them
locally and stages them for the transaction's one commit. Snapshot commits
on all three go through the one retry loop, :func:`commit_snapshot`, which
logs one JSON record per commit at DEBUG on the
``duckdb_iceberg_spark.commit`` logger."""

from __future__ import annotations

import json
import logging
import random
import time
from typing import Optional

from ..metadata.table_metadata import (
    REF_RETENTION_KEYS,
    TableMetadata,
    apply_updates,
    load_table_metadata,
    write_table_metadata,
)

_LOG = logging.getLogger("duckdb_iceberg_spark.commit")


class CatalogError(RuntimeError):
    def __init__(self, status: int, message: str):
        super().__init__(f"HTTP {status}: {message}")
        self.status = status


class CommitConflict(CatalogError):
    """409: requirements failed — caller may refresh and retry."""


def _retry_config(properties: dict | None,
                  default_retries: int) -> tuple[int, float, float, float]:
    """``commit.retry.*`` table properties → (num_retries, min_wait_ms,
    max_wait_ms, total_timeout_ms) with the reference's defaults and
    guards (iceberg_retry.cpp FromTableMetadata: num-retries may be 0 —
    single attempt; invalid/negative values fall back; min clamped to
    max)."""
    p = properties or {}

    def _int(key, fallback, allow_zero):
        v = p.get(key, "")
        try:
            n = int(str(v))
        except (TypeError, ValueError):
            return fallback
        if n < 0 or (n == 0 and not allow_zero):
            return fallback
        return n

    num = _int("commit.retry.num-retries", default_retries, True)
    min_w = float(_int("commit.retry.min-wait-ms", 100, False))
    max_w = float(_int("commit.retry.max-wait-ms", 60_000, False))
    total = float(_int("commit.retry.total-timeout-ms", 30 * 60 * 1000, False))
    if min_w > max_w:
        min_w = max_w
    return num, min_w, max_w, total


#: requirement type → (field holding the expected value, actual value)
_REQUIREMENTS = {
    "assert-table-uuid": ("uuid", lambda tm, r: tm.table_uuid),
    "assert-ref-snapshot-id": (
        "snapshot-id",
        lambda tm, r: tm.current_snapshot_id if r["ref"] == "main"
        else (tm.refs.get(r["ref"]) or {}).get("snapshot-id")),
    "assert-current-schema-id": (
        "current-schema-id", lambda tm, r: tm.current_schema_id),
    "assert-default-spec-id": (
        "default-spec-id", lambda tm, r: tm.default_spec_id),
    "assert-default-sort-order-id": (
        "default-sort-order-id", lambda tm, r: tm.default_sort_order_id),
}


def requirement_holds(tm: TableMetadata, r: dict) -> bool:
    """Whether ``tm`` satisfies the one requirement ``r``."""
    key, actual = _REQUIREMENTS[r["type"]]
    return r[key] == actual(tm, r)


def check_requirements(tm: TableMetadata, requirements: list[dict]) -> None:
    """Raise CommitConflict on the first requirement ``tm`` fails."""
    for r in requirements:
        if not requirement_holds(tm, r):
            key, actual = _REQUIREMENTS[r["type"]]
            raise CommitConflict(
                409, f"Requirement failed: {r['type']} expected "
                f"{r[key]!r}, found {actual(tm, r)!r}")


class FileTable:
    """A filesystem or object-store table behind RestTable's commit surface.

    ``commit_table`` applies the updates and creates the next metadata
    version exclusively. When another writer created it first, it loads
    the winner, re-checks the requirements (a failed one raises
    CommitConflict, as a REST 409) and applies the updates again, up to
    ``commit.retry.num-retries`` times: each lost race is another writer's
    commit, so N writers all land when retries ≥ N−1. No refresh before
    the commit, no reload after it: ``metadata`` becomes the applied copy."""

    #: retries when the table sets no ``commit.retry.num-retries``
    #: (RestCatalogConfig's default)
    max_commit_retries = 4

    def __init__(self, location: str,
                 metadata: Optional[TableMetadata] = None):
        self.metadata = (load_table_metadata(location)
                         if metadata is None else metadata)
        # the table root, also when ``location`` named a metadata file
        self.location = self.metadata.location or location

    @property
    def ident(self) -> str:
        return self.location

    def refresh(self) -> "FileTable":
        self.metadata = load_table_metadata(self.location)
        return self

    def commit_table(self, requirements: list[dict],
                     updates: list[dict]) -> dict:
        retries = _retry_config(self.metadata.properties,
                                self.max_commit_retries)[0]
        base = self.metadata
        for _ in range(retries + 1):
            check_requirements(base, requirements)
            new = apply_updates(base, updates)
            try:
                path = write_table_metadata(new, self.location)
            except FileExistsError:
                base = load_table_metadata(self.location)
                continue
            self.metadata = new
            return {"metadata-location": path}
        raise CommitConflict(
            409, f"{self.location}: lost the race for the next metadata "
            f"version {retries + 1} times")


def resolve_table(location):
    """A path becomes a FileTable; a RestTable, FileTable or
    transaction-staged table is refreshed and returned."""
    if isinstance(location, str):
        return FileTable(location)
    return location.refresh()


def committer(table, operation: str):
    """``commit_fn`` for ``writer.commit_snapshot`` through ``table``."""
    return lambda snap, rebuild=None, branch=None: commit_snapshot(
        table, snap.to_json(), operation=operation, rebuild_fn=rebuild,
        branch=branch)


def delete_can_reapply(tm: TableMetadata,
                       base_snapshot_id: Optional[int]) -> bool:
    """A retried DELETE/overwrite is safe iff every commit in
    (base, tip] was a pure append — anything else may have removed or
    rewritten the rows the delete targeted (reference:
    iceberg_transaction.cpp DeleteCanReapply, :210-240). Ranges over
    sequence numbers; an unprovable history counts as not reappliable."""
    tip_id = tm.current_snapshot_id
    if base_snapshot_id == tip_id:
        return True
    by_id = {s.snapshot_id: s for s in tm.snapshots}
    base = by_id.get(base_snapshot_id)
    tip = by_id.get(tip_id)
    if base is None or tip is None:
        return False
    lo, hi = base.sequence_number, tip.sequence_number
    for s in tm.snapshots:
        if lo < s.sequence_number <= hi and s.operation != "append":
            return False
    return True


def commit_snapshot(table, snapshot_json: dict, *,
                    operation: str = "append", rebuild_fn=None,
                    branch: str | None = None) -> dict:
    """Optimistic snapshot commit with retry: on a conflict refresh and
    re-validate. Appends are always retry-eligible; deletes/overwrites
    retry only when every intervening snapshot was a pure append
    (reference: iceberg_transaction.cpp VerifyDeleteRetryability,
    :243-273), otherwise the conflict surfaces to the caller to re-run.

    ``branch`` commits against a branch ref instead of main: the CAS
    requirement asserts THAT ref's head (None = the ref must not exist
    yet — a new branch forks atomically), only the branch ref advances,
    and main never moves. Branch conflicts retry for appends only; the
    delete-reapply analysis walks main lineage and does not transfer, so
    non-append branch conflicts surface.

    ``rebuild_fn(refreshed_metadata) -> Snapshot`` is REQUIRED for a
    retry to actually happen: the staged snapshot's manifest list was
    authored against the pre-conflict base, so it omits the concurrent
    winner's manifests — re-committing it with a patched parent id would
    make the tip silently drop the winner's files. The writer's
    commit_snapshot supplies a rebuilder that re-runs carry-forward +
    manifest-list authoring (and v3 row-id assignment) against the
    refreshed metadata. Without one, conflicts surface immediately."""
    append_retryable = operation == "append"
    ref_name = branch or "main"
    base_snapshot_id = table.metadata.current_snapshot_id

    # retry-state fingerprint (reference: iceberg_transaction_data.cpp
    # RetryStateMatches, :160-178): the staged data files were written
    # under THIS schema/spec/sort-order — if a concurrent commit changed
    # any of them, a rebase would graft old-layout files onto a
    # new-layout table, so the conflict must surface instead
    def retry_state():
        tm = table.metadata
        return (tm.table_uuid, tm.current_schema_id, tm.default_spec_id,
                tm.default_sort_order_id)

    state = retry_state()
    num_retries, min_wait_ms, max_wait_ms, total_wait_ms = \
        _retry_config(table.metadata.properties, table.max_commit_retries)
    attempts = num_retries + 1  # retries come AFTER the first attempt
    started = time.time()
    prev_sleep_ms = min_wait_ms
    attempt, outcome = 0, "error"
    try:
        for attempt in range(1, attempts + 1):
            tm = table.metadata
            # v3 row lineage: a JSON-only commit (no data-plane manifests)
            # derives its range start from the table's next-row-id; data-
            # plane snapshots arrive with first-row-id already assigned by
            # the build (and re-assigned by each rebuild)
            if (tm.format_version >= 3
                    and snapshot_json.get("first-row-id") is None):
                snapshot_json = dict(snapshot_json)
                snapshot_json["first-row-id"] = tm.next_row_id
            ref = tm.refs.get(ref_name) or {}
            cur = (tm.current_snapshot_id if ref_name == "main"
                   else ref.get("snapshot-id"))
            requirements = [
                {"type": "assert-table-uuid", "uuid": tm.table_uuid},
                {"type": "assert-ref-snapshot-id", "ref": ref_name,
                 "snapshot-id": cur},
            ]
            updates = [
                {"action": "add-snapshot", "snapshot": snapshot_json},
                # set-snapshot-ref replaces the whole ref: the branch keeps
                # its retention fields only when the update carries them
                {"action": "set-snapshot-ref", "ref-name": ref_name,
                 "type": "branch",
                 "snapshot-id": snapshot_json["snapshot-id"],
                 **{k: ref[k] for k in REF_RETENTION_KEYS if k in ref}},
            ]
            try:
                resp = table.commit_table(requirements, updates)
            except CommitConflict as e:
                table.refresh()
                if state != retry_state():
                    raise CommitConflict(
                        409,
                        f"Table {table.ident} changed "
                        "incompatibly while retrying commit") from e
                if branch and branch != "main" and not append_retryable:
                    # delete-reapply analysis walks MAIN lineage — it does
                    # not transfer to branch heads; surface the conflict
                    raise
                if not append_retryable and not delete_can_reapply(
                        table.metadata, base_snapshot_id):
                    raise
                if rebuild_fn is None:
                    # no rebuilder: a parent-id rebase would re-commit the
                    # stale manifest list WITHOUT the winner's manifests —
                    # surface the conflict instead of losing data
                    raise
                if attempt == attempts:
                    raise
                # decorrelated-jitter backoff between retries, bounded by
                # commit.retry.{min,max}-wait-ms and the total timeout
                # (reference: iceberg_retry.cpp DecorrelatedBackoffMs;
                # only enforced after >=1 retry, mirroring Java Tasks)
                hi = min(prev_sleep_ms * 3, max_wait_ms)
                lo = min(min_wait_ms, hi)
                sleep_ms = lo + random.random() * (hi - lo)
                elapsed_ms = (time.time() - started) * 1000
                if attempt >= 2 and elapsed_ms + sleep_ms > total_wait_ms:
                    raise
                time.sleep(sleep_ms / 1000.0)
                prev_sleep_ms = sleep_ms
                snapshot_json = rebuild_fn(table.metadata).to_json()
                continue
            outcome = "committed"
            return resp
    except CommitConflict:
        outcome = "conflict"
        raise
    finally:
        if _LOG.isEnabledFor(logging.DEBUG):
            _LOG.debug(json.dumps({
                "table": table.ident, "operation": operation,
                "snapshot-id": snapshot_json.get("snapshot-id"),
                "attempts": attempt, "outcome": outcome}))
