"""REST catalog client tests against an in-process stub server implementing
the Iceberg REST spec subset the client uses (config, oauth tokens,
namespaces, tables, CAS commits). Mirrors the reference's catalog tests'
behavior checks (catalog_api.cpp, iceberg_transaction.cpp) without docker."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from duckdb_iceberg_spark.catalog.rest_catalog import (
    CatalogError,
    CommitConflict,
    OAuth2Config,
    RestCatalog,
    RestCatalogConfig,
)

PREFIX = "whx"


class _StubState:
    def __init__(self):
        self.namespaces: dict[tuple, dict] = {}
        self.tables: dict[tuple, dict] = {}  # (ns..., name) -> metadata json
        self.views: dict[tuple, dict] = {}   # (ns..., name) -> view metadata
        self.tokens_issued = 0
        self.commit_conflicts_to_inject = 0
        self.conflict_winner_operation = "append"
        self.conflict_winner_rows = 0
        self.conflict_winner_manifest_list = "mem://x.avro"
        self.requests: list[tuple[str, str]] = []
        # planTableScan: plan_response is returned for POST .../plan;
        # plan_pages maps plan-task token -> page response; async_polls
        # makes the first N GET plan/{id} return "submitted"
        self.plan_response: dict | None = None
        self.plan_pages: dict[str, dict] = {}
        self.async_polls = 0
        self.last_plan_filter: dict | None = None
        self.last_signed_request: tuple | None = None
        # vended storage credentials included in LoadTableResult as `config`
        self.vended_config: dict | None = None
        # table key -> metadata-location loadTable reports; every commit
        # moves it to a fresh name
        self.metadata_locations: dict[tuple, str] = {}
        self.commits = 0


def _failed_requirement(meta: dict, requirements: list[dict]) -> str | None:
    """The stub's requirement check, shared by the per-table and the
    multi-table commit: the message of the first requirement ``meta``
    fails, or None."""
    cur = None
    for s in meta.get("snapshots", []):
        if s["snapshot-id"] == meta.get("current-snapshot-id"):
            cur = s["snapshot-id"]
    for r in requirements:
        if r["type"] == "assert-ref-snapshot-id":
            rf = r.get("ref", "main")
            have = cur if rf == "main" else (
                meta.get("refs", {}).get(rf, {}).get("snapshot-id"))
            if r.get("snapshot-id") != have:
                return "stale snapshot"
        elif r["type"] == "assert-table-uuid":
            if r["uuid"] != meta["table-uuid"]:
                return "uuid mismatch"
        elif r["type"] == "assert-current-schema-id":
            if r.get("current-schema-id") != meta.get("current-schema-id", 0):
                return "stale schema"
    return None


def _apply_table_updates(meta: dict, updates: list[dict]) -> str | None:
    """The stub's TableUpdate applier, shared by the per-table and the
    multi-table commit: applies ``updates`` to ``meta`` in place and
    returns the message of a refused update, or None."""
    for u in updates:
        if u["action"] == "add-snapshot":
            meta["snapshots"].append(u["snapshot"])
            meta["last-sequence-number"] = max(
                meta["last-sequence-number"],
                u["snapshot"].get("sequence-number", 0))
            fr = u["snapshot"].get("first-row-id")
            if fr is not None:
                summ = u["snapshot"].get("summary", {})
                added = int(summ.get("assigned-rows",
                                     summ.get("added-records", 0)))
                meta["next-row-id"] = max(
                    meta.get("next-row-id", 0), fr + added)
        elif u["action"] == "set-snapshot-ref":
            rn = u.get("ref-name", "main")
            ref = {"snapshot-id": u["snapshot-id"],
                   "type": u.get("type", "branch")}
            # the spec's optional retention fields
            # (reference: set_snapshot_ref_update.hpp)
            for fk in ("max-ref-age-ms",
                       "max-snapshot-age-ms",
                       "min-snapshots-to-keep"):
                if u.get(fk) is not None:
                    ref[fk] = u[fk]
            meta.setdefault("refs", {})[rn] = ref
            if rn == "main":
                meta["current-snapshot-id"] = u["snapshot-id"]
        elif u["action"] == "remove-snapshot-ref":
            meta.get("refs", {}).pop(u.get("ref-name"), None)
        elif u["action"] == "add-spec":
            meta.setdefault("partition-specs", []).append(u["spec"])
            meta["last-partition-id"] = max(
                [f["field-id"] for f in u["spec"].get("fields", [])]
                + [meta.get("last-partition-id", 999)])
        elif u["action"] == "set-default-spec":
            meta["default-spec-id"] = u["spec-id"]
        elif u["action"] == "add-sort-order":
            meta.setdefault("sort-orders", []).append(u["sort-order"])
        elif u["action"] == "set-default-sort-order":
            meta["default-sort-order-id"] = u["sort-order-id"]
        elif u["action"] == "add-schema":
            meta.setdefault("schemas", []).append(u["schema"])
            if "last-column-id" in u:
                meta["last-column-id"] = max(
                    meta.get("last-column-id", 0), u["last-column-id"])
        elif u["action"] == "set-current-schema":
            meta["current-schema-id"] = u["schema-id"]
        elif u["action"] == "set-properties":
            meta.setdefault("properties", {}).update(u["updates"])
        elif u["action"] == "remove-properties":
            for k in u.get("removals", []):
                meta.get("properties", {}).pop(k, None)
        elif u["action"] == "remove-snapshots":
            dead = set(u.get("snapshot-ids", []))
            meta["snapshots"] = [
                sn for sn in meta.get("snapshots", [])
                if sn["snapshot-id"] not in dead]
        elif u["action"] == "set-statistics":
            meta["statistics"] = [
                s for s in meta.get("statistics", [])
                if s.get("snapshot-id") != u["snapshot-id"]
            ] + [u["statistics"]]
        elif u["action"] == "set-partition-statistics":
            meta["partition-statistics"] = [
                s for s in
                meta.get("partition-statistics", [])
                if s.get("snapshot-id") != u["snapshot-id"]
            ] + [u["partition-statistics"]]
        elif u["action"] == "remove-statistics":
            meta["statistics"] = [
                s for s in meta.get("statistics", [])
                if s.get("snapshot-id") != u["snapshot-id"]]
        elif u["action"] == "remove-partition-statistics":
            meta["partition-statistics"] = [
                s for s in
                meta.get("partition-statistics", [])
                if s.get("snapshot-id") != u["snapshot-id"]]
        elif u["action"] == "upgrade-format-version":
            if u["format-version"] < meta.get("format-version", 2):
                return "downgrade"
            meta["format-version"] = u["format-version"]
    return None


def _next_metadata_location(state: _StubState, key: tuple) -> str:
    """A fresh metadata-location for ``key`` after a commit."""
    state.commits += 1
    state.metadata_locations[key] = (
        f"mem://{'/'.join(key)}/v{state.commits}.metadata.json")
    return state.metadata_locations[key]


def _make_handler(state: _StubState):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _send(self, code: int, body: dict | None = None):
            payload = json.dumps(body or {}).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def _body(self) -> dict:
            n = int(self.headers.get("Content-Length", 0) or 0)
            return json.loads(self.rfile.read(n).decode()) if n else {}

        def _route(self):
            state.requests.append((self.command, self.path))
            parts = self.path.split("?")[0].strip("/").split("/")
            # /v1/config
            if parts == ["v1", "config"]:
                return self._send(200, {"overrides": {"prefix": PREFIX}, "defaults": {}})
            # /tokens (oauth)
            if parts == ["tokens"]:
                state.tokens_issued += 1
                return self._send(200, {"access_token": f"tok-{state.tokens_issued}",
                                        "token_type": "bearer", "expires_in": 3600})
            if parts[:2] != ["v1", PREFIX]:
                return self._send(404, {"error": {"message": "bad prefix"}})
            # require bearer or SigV4 auth beyond config/tokens
            auth = self.headers.get("Authorization", "")
            if auth.startswith("AWS4-HMAC-SHA256 "):
                state.last_signed_request = (
                    self.command, self.path, dict(self.headers))
            elif not auth.startswith("Bearer "):
                return self._send(401, {"error": {"message": "no token"}})
            rest = parts[2:]
            if rest == ["namespaces"]:
                if self.command == "GET":
                    return self._send(200, {"namespaces": [list(k) for k in state.namespaces]})
                if self.command == "POST":
                    b = self._body()
                    ns = tuple(b["namespace"])
                    state.namespaces[ns] = b.get("properties", {})
                    return self._send(200, {"namespace": list(ns)})
            if len(rest) == 2 and rest[0] == "namespaces":
                ns = tuple(urllib.parse.unquote(rest[1]).split("\x1f"))
                if ns not in state.namespaces:
                    return self._send(404, {"error": {"message": "no such namespace"}})
                if self.command == "GET":
                    return self._send(200, {"namespace": list(ns),
                                            "properties": state.namespaces[ns]})
                if self.command == "DELETE":
                    del state.namespaces[ns]
                    return self._send(204)
            if len(rest) == 3 and rest[0] == "namespaces" and rest[2] == "properties":
                ns = tuple(urllib.parse.unquote(rest[1]).split("\x1f"))
                b = self._body()
                props = state.namespaces.setdefault(ns, {})
                for k in b.get("removals", []):
                    props.pop(k, None)
                props.update(b.get("updates", {}))
                return self._send(200, {"updated": list(b.get("updates", {})),
                                        "removed": b.get("removals", [])})
            if len(rest) == 3 and rest[0] == "namespaces" and rest[2] == "tables":
                ns = tuple(urllib.parse.unquote(rest[1]).split("\x1f"))
                if self.command == "GET":
                    idents = [{"namespace": list(k[:-1]), "name": k[-1]}
                              for k in state.tables if k[:-1] == ns]
                    psz = getattr(state, "list_page_size", None)
                    if psz:
                        q = urllib.parse.parse_qs(
                            urllib.parse.urlparse(self.path).query)
                        off = int((q.get("pageToken") or ["0"])[0] or 0)
                        page = idents[off:off + psz]
                        body = {"identifiers": page}
                        if off + psz < len(idents):
                            body["next-page-token"] = str(off + psz)
                        return self._send(200, body)
                    return self._send(200, {"identifiers": idents})
                if self.command == "POST":
                    b = self._body()
                    key = ns + (b["name"],)
                    if key in state.tables:
                        # REST spec: 409 when the table already exists
                        return self._send(
                            409, {"error": {"message": "table exists"}})
                    meta = {
                        "format-version": int(b.get("properties", {})
                                              .get("format-version", 2)),
                        "table-uuid": f"uuid-{b['name']}",
                        "location": b.get("location", f"mem://{b['name']}"),
                        "schemas": [b["schema"]],
                        "current-schema-id": b["schema"].get("schema-id", 0),
                        "partition-specs": [{"spec-id": 0, "fields": []}],
                        "default-spec-id": 0,
                        "last-sequence-number": 0,
                        "snapshots": [],
                        "properties": b.get("properties", {}),
                    }
                    state.tables[key] = meta
                    state.metadata_locations[key] = f"mem://{b['name']}/m0.json"
                    return self._send(200, {"metadata-location":
                                            state.metadata_locations[key],
                                            "metadata": meta})
            if len(rest) == 3 and rest[0] == "namespaces" \
                    and rest[2] == "register" and self.command == "POST":
                # spec: register an existing metadata file
                # (RegisterTableRequest: name + metadata-location
                # [+ overwrite])
                import json as _json

                ns = tuple(urllib.parse.unquote(rest[1]).split("\x1f"))
                b = self._body()
                key = ns + (b["name"],)
                if key in state.tables and not b.get("overwrite"):
                    return self._send(
                        409, {"error": {"message": "table exists"}})
                mloc = b["metadata-location"]
                try:
                    meta = _json.load(open(mloc))
                except OSError:
                    return self._send(
                        400, {"error": {"message": f"cannot read {mloc}"}})
                state.tables[key] = meta
                state.metadata_locations[key] = mloc
                return self._send(200, {"metadata-location": mloc,
                                        "metadata": meta})
            if len(rest) == 4 and rest[0] == "namespaces" and rest[2] == "tables":
                ns = tuple(urllib.parse.unquote(rest[1]).split("\x1f"))
                key = ns + (rest[3],)
                if key not in state.tables:
                    return self._send(404, {"error": {"message": "no such table"}})
                if self.command == "GET":
                    resp = {"metadata-location":
                            state.metadata_locations.get(key, "mem://m.json"),
                            "metadata": state.tables[key]}
                    if state.vended_config:
                        resp["config"] = state.vended_config
                    return self._send(200, resp)
                if self.command == "DELETE":
                    del state.tables[key]
                    return self._send(204)
                if self.command == "POST":  # commit
                    b = self._body()
                    meta = state.tables[key]
                    failed = _failed_requirement(meta, b.get("requirements", []))
                    if failed:
                        return self._send(409, {"error": {"message": failed}})
                    if state.commit_conflicts_to_inject > 0:
                        state.commit_conflicts_to_inject -= 1
                        # simulate a concurrent winner: bump current snapshot
                        sid = int(time.time() * 1000) % 10**9 + len(meta["snapshots"]) + 777
                        meta["snapshots"].append({"snapshot-id": sid, "sequence-number":
                                                  meta["last-sequence-number"] + 1,
                                                  "timestamp-ms": 1,
                                                  "summary": {"operation": state.conflict_winner_operation},
                                                  "manifest-list": state.conflict_winner_manifest_list})
                        meta["current-snapshot-id"] = sid
                        meta["last-sequence-number"] += 1
                        if state.conflict_winner_rows:
                            # v3 winner that claimed a row-id range
                            meta["next-row-id"] = (meta.get("next-row-id", 0)
                                                   + state.conflict_winner_rows)
                        return self._send(409, {"error": {"message": "injected conflict"}})
                    refused = _apply_table_updates(meta, b.get("updates", []))
                    if refused:
                        return self._send(400, {"error": {"message": refused}})
                    return self._send(200, {
                        "metadata-location": _next_metadata_location(state, key),
                        "metadata": meta})
            if len(rest) >= 5 and rest[0] == "namespaces" and rest[2] == "tables" \
                    and rest[4] in ("plan", "tasks"):
                if state.plan_response is None:
                    return self._send(404, {"error": {"message": "plan unsupported"}})
                if rest[4] == "plan" and len(rest) == 5 and self.command == "POST":
                    b = self._body()
                    state.last_plan_filter = b.get("filter")
                    if state.async_polls > 0:
                        return self._send(200, {"status": "submitted",
                                                "plan-id": "plan-1"})
                    return self._send(200, state.plan_response)
                if rest[4] == "plan" and len(rest) == 6 and self.command == "GET":
                    if state.async_polls > 0:
                        state.async_polls -= 1
                        return self._send(200, {"status": "submitted",
                                                "plan-id": rest[5]})
                    return self._send(200, state.plan_response)
                if rest[4] == "tasks" and self.command == "POST":
                    token = self._body().get("plan-task")
                    return self._send(200, state.plan_pages.get(token, {}))
            if rest == ["transactions", "commit"] and self.command == "POST":
                b = self._body()
                changes = b.get("table-changes", [])
                # validate every table first: all-or-nothing
                keys = []
                for ch in changes:
                    ident = ch["identifier"]
                    key = tuple(ident["namespace"]) + (ident["name"],)
                    if key not in state.tables:
                        return self._send(404, {"error": {"message": "no such table"}})
                    failed = _failed_requirement(state.tables[key],
                                                 ch.get("requirements", []))
                    if failed:
                        return self._send(409, {"error": {"message": failed}})
                    keys.append(key)
                for key, ch in zip(keys, changes):
                    refused = _apply_table_updates(state.tables[key],
                                                   ch.get("updates", []))
                    if refused:
                        return self._send(400, {"error": {"message": refused}})
                    _next_metadata_location(state, key)
                return self._send(204)
            if rest == ["tables", "rename"]:
                b = self._body()
                src = tuple(b["source"]["namespace"]) + (b["source"]["name"],)
                dst = tuple(b["destination"]["namespace"]) + (b["destination"]["name"],)
                if src not in state.tables:
                    return self._send(404, {"error": {"message": "no such table"}})
                state.tables[dst] = state.tables.pop(src)
                return self._send(204)
            if len(rest) == 3 and rest[0] == "namespaces" and rest[2] == "views":
                ns = tuple(urllib.parse.unquote(rest[1]).split("\x1f"))
                if self.command == "GET":
                    idents = [{"namespace": list(k[:-1]), "name": k[-1]}
                              for k in state.views if k[:-1] == ns]
                    return self._send(200, {"identifiers": idents})
                if self.command == "POST":
                    b = self._body()
                    key = ns + (b["name"],)
                    ver = b["view-version"]
                    meta = {
                        "view-uuid": f"view-uuid-{b['name']}",
                        "format-version": 1,
                        "location": b.get("location", f"mem://views/{b['name']}"),
                        "schemas": [b["schema"]],
                        "current-version-id": ver["version-id"],
                        "versions": [ver],
                        "version-log": [{"timestamp-ms": ver["timestamp-ms"],
                                         "version-id": ver["version-id"]}],
                        "properties": b.get("properties", {}),
                    }
                    state.views[key] = meta
                    return self._send(200, {
                        "metadata-location": f"mem://views/{b['name']}/v1.json",
                        "metadata": meta})
            if len(rest) == 4 and rest[0] == "namespaces" and rest[2] == "views":
                ns = tuple(urllib.parse.unquote(rest[1]).split("\x1f"))
                key = ns + (rest[3],)
                if key not in state.views:
                    return self._send(404, {"error": {"message": "no such view"}})
                meta = state.views[key]
                if self.command == "GET":
                    return self._send(200, {"metadata-location": "mem://v.json",
                                            "metadata": meta})
                if self.command == "DELETE":
                    del state.views[key]
                    return self._send(204)
                if self.command == "POST":  # commit
                    b = self._body()
                    state.last_view_commit = b
                    for r in b.get("requirements", []):
                        if (r["type"] == "assert-view-uuid"
                                and r["uuid"] != meta["view-uuid"]):
                            return self._send(
                                409, {"error": {"message": "uuid mismatch"}})
                    last_added = None
                    for u in b.get("updates", []):
                        if u["action"] == "add-schema":
                            meta["schemas"].append(u["schema"])
                        elif u["action"] == "add-view-version":
                            meta["versions"].append(u["view-version"])
                            last_added = u["view-version"]["version-id"]
                        elif u["action"] == "set-current-view-version":
                            vid = u["view-version-id"]
                            if vid == -1:
                                if last_added is None:
                                    return self._send(400, {"error": {
                                        "message": "-1 without add"}})
                                vid = last_added
                            meta["current-version-id"] = vid
                            meta["version-log"].append(
                                {"timestamp-ms": 0, "version-id": vid})
                    return self._send(200, {"metadata-location": "mem://v.json",
                                            "metadata": meta})
            if rest == ["views", "rename"]:
                b = self._body()
                src = tuple(b["source"]["namespace"]) + (b["source"]["name"],)
                dst = tuple(b["destination"]["namespace"]) + (b["destination"]["name"],)
                if src not in state.views:
                    return self._send(404, {"error": {"message": "no such view"}})
                state.views[dst] = state.views.pop(src)
                return self._send(204)
            return self._send(404, {"error": {"message": f"unhandled {self.command} {self.path}"}})

        do_GET = do_POST = do_DELETE = _route

    return Handler


@pytest.fixture()
def stub():
    state = _StubState()
    server = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(state))
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield base, state
    server.shutdown()


def _catalog(base: str) -> RestCatalog:
    return RestCatalog(RestCatalogConfig(
        uri=base,
        oauth2=OAuth2Config(server_uri=f"{base}/tokens",
                            client_id="id", client_secret="secret"),
    ))


SCHEMA = {"type": "struct", "schema-id": 0, "fields": [
    {"id": 1, "name": "id", "required": True, "type": "long"},
    {"id": 2, "name": "v", "required": False, "type": "string"},
]}


def test_config_prefix_and_oauth(stub):
    base, state = stub
    cat = _catalog(base)
    assert cat._prefix == PREFIX
    cat.list_namespaces()
    assert state.tokens_issued == 1
    cat.list_namespaces()  # token cached, no second fetch
    assert state.tokens_issued == 1


def test_namespace_crud_and_properties(stub):
    base, _ = stub
    cat = _catalog(base)
    cat.create_namespace("analytics.prod", {"owner": "me"})
    assert ["analytics", "prod"] in cat.list_namespaces()
    assert cat.namespace_properties("analytics.prod") == {"owner": "me"}
    cat.update_namespace_properties("analytics.prod",
                                    updates={"tier": "gold"}, removals=["owner"])
    assert cat.namespace_properties("analytics.prod") == {"tier": "gold"}
    cat.drop_namespace("analytics.prod")
    assert cat.list_namespaces() == []


def test_table_lifecycle(stub):
    base, _ = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    tbl = cat.create_table("db", "events", SCHEMA, properties={"k": "v"})
    assert tbl.metadata.table_uuid == "uuid-events"
    assert cat.table_exists("db", "events")
    assert not cat.table_exists("db", "missing")
    names = [i["name"] for i in cat.list_tables("db")]
    assert names == ["events"]
    cat.rename_table("db", "events", "db", "events_v2")
    assert cat.table_exists("db", "events_v2") and not cat.table_exists("db", "events")
    cat.drop_table("db", "events_v2")
    assert not cat.table_exists("db", "events_v2")


def _snap(sid: int, seq: int) -> dict:
    return {"snapshot-id": sid, "sequence-number": seq, "timestamp-ms": 123,
            "summary": {"operation": "append"}, "manifest-list": "mem://ml.avro"}


def _rebuilder(sid: int):
    """Test stand-in for writer.commit_snapshot's rebuilder: re-authors the
    snapshot against the REFRESHED metadata (new parent/sequence), the way
    the real one re-runs carry-forward + manifest-list authoring."""
    from types import SimpleNamespace

    def rebuild(md):
        j = _snap(sid, md.last_sequence_number + 1)
        j["parent-snapshot-id"] = md.current_snapshot_id
        return SimpleNamespace(to_json=lambda: j)

    return rebuild


def test_commit_and_retry_on_conflict(stub):
    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    tbl = cat.create_table("db", "t", SCHEMA)

    tbl.commit_snapshot(_snap(101, 1))
    assert tbl.metadata.current_snapshot_id == 101

    # inject one 409; the retry REBUILDS the snapshot against refreshed
    # metadata (never re-POSTs the stale manifest list) and succeeds
    state.commit_conflicts_to_inject = 1
    tbl.commit_snapshot(_snap(202, 2), rebuild_fn=_rebuilder(202))
    snap_ids = [s.snapshot_id for s in tbl.metadata.snapshots]
    assert 202 in snap_ids and tbl.metadata.current_snapshot_id == 202
    committed = next(s for s in tbl.metadata.snapshots if s.snapshot_id == 202)
    assert committed.parent_snapshot_id is not None  # rebuilt onto the winner


def test_conflict_without_rebuilder_surfaces(stub):
    """No rebuilder = no retry, even for appends: the staged manifest list
    was authored against the stale base and omits the winner's manifests —
    a parent-id rebase would silently drop the winner's files."""
    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    tbl = cat.create_table("db", "t", SCHEMA)
    tbl.commit_snapshot(_snap(101, 1))
    state.commit_conflicts_to_inject = 1
    with pytest.raises(CommitConflict):
        tbl.commit_snapshot(_snap(202, 2))
    # the winner's snapshot is visible after the surfaced conflict; the
    # loser's never landed
    tbl.refresh()
    assert 202 not in [s.snapshot_id for s in tbl.metadata.snapshots]


def test_create_table_if_not_exists(stub):
    """CREATE TABLE IF NOT EXISTS parity
    (nested_namespaces/test_create_if_not_exists.test): an existing table
    makes the create a no-op returning the existing table; without the
    flag the 409 surfaces."""
    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    t1 = cat.create_table("db", "t", SCHEMA)
    t1.commit_snapshot(_snap(101, 1))
    # no-op: same table comes back, snapshot intact
    t2 = cat.create_table("db", "t", SCHEMA, if_not_exists=True)
    assert t2.metadata.current_snapshot_id == 101
    # without the flag the conflict surfaces
    with pytest.raises(CatalogError):
        cat.create_table("db", "t", SCHEMA)


def test_secret_endpoint_inference(stub):
    """Reference parity for the secret flow (oauth2.cpp:270-300;
    inferred_endpoint_from_secret.test / cant_infer_endpoint.test): an
    attach without a uri infers it from the named ICEBERG secret's
    'endpoint'; a missing secret or missing endpoint errors with the
    reference's message; token / client credentials fill in from the
    secret only where the config is silent."""
    from duckdb_iceberg_spark.catalog.secrets import (
        create_secret,
        drop_secret,
    )

    base, state = stub
    try:
        # endpoint + static token inferred from the secret
        create_secret("iceberg_secret", endpoint=base, token="tkn123")
        cat = RestCatalog(RestCatalogConfig(uri="", secret="iceberg_secret"))
        assert cat.config.uri == base.rstrip("/")
        assert cat.config.token == "tkn123"
        cat.create_namespace("db")  # requests actually work
        # unknown secret name
        with pytest.raises(ValueError,
                           match="No ICEBERG secret by the name"):
            RestCatalog(RestCatalogConfig(uri="", secret="nope"))
        # secret without endpoint and no uri given
        create_secret("no_ep", client_id="id", client_secret="s")
        with pytest.raises(ValueError,
                           match="no 'endpoint' could be retrieved"):
            RestCatalog(RestCatalogConfig(uri="", secret="no_ep"))
        # client credentials build the oauth2 flow; explicit server wins
        create_secret("oauth_sec", endpoint=base, client_id="id",
                      client_secret="secret",
                      oauth2_server_uri=f"{base}/tokens")
        cat2 = RestCatalog(RestCatalogConfig(uri="", secret="oauth_sec"))
        assert cat2.config.oauth2 is not None
        assert cat2.config.oauth2.server_uri == f"{base}/tokens"
        assert cat2.list_namespaces() is not None  # token flow exercised
        # an explicit uri passes through untouched (no secret needed)
        cat3 = RestCatalog(RestCatalogConfig(uri=base))
        assert cat3.config.uri == base
        # a same-named secret of a DIFFERENT type is NOT consumed
        # (ADVICE r10): the reference scopes lookup to TYPE ICEBERG
        create_secret("s3_alias", type="s3", endpoint=base, token="nope")
        with pytest.raises(ValueError,
                           match="No ICEBERG secret by the name"):
            RestCatalog(RestCatalogConfig(uri="", secret="s3_alias"))
    finally:
        for n in ("iceberg_secret", "no_ep", "oauth_sec", "s3_alias"):
            drop_secret(n)


def test_retry_refused_across_concurrent_schema_change(stub):
    """Reference parity (iceberg_transaction_data.cpp RetryStateMatches
    :160-178, alter_add_column_warn_schema_mismatch.test): a retried
    commit whose base (uuid, current schema, default spec, sort order)
    no longer matches the refreshed tip must refuse — the staged data
    files were written under the OLD layout, and a rebase would graft
    them onto the new one. Error text mirrors the reference's
    'changed incompatibly while retrying commit'."""
    from duckdb_iceberg_spark.sources import ddl

    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    tbl = cat.create_table("db", "t", SCHEMA)
    tbl.commit_snapshot(_snap(101, 1))

    # a concurrent writer evolves the schema AFTER this handle staged
    # its snapshot (second handle = second connection in the .test)
    other = cat.load_table("db", "t")
    ddl.add_column(other, "b", "long")

    state.commit_conflicts_to_inject = 1
    with pytest.raises(CommitConflict, match="changed incompatibly"):
        tbl.commit_snapshot(_snap(202, 2), rebuild_fn=_rebuilder(202))
    # the schema change won; the append never landed
    tbl.refresh()
    assert 202 not in [s.snapshot_id for s in tbl.metadata.snapshots]
    names = {f["name"] for f in tbl.metadata.schema_json()["fields"]}
    assert "b" in names


def test_row_lineage_through_rest_commits(stub):
    """v3 row lineage: each REST-committed snapshot claims
    [next-row-id, next-row-id + added-records); a conflict rebase re-reads
    next-row-id from the refreshed metadata so the retried snapshot claims
    the range after the winner (reference: test_row_lineage_*.test)."""
    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    tbl = cat.create_table("db", "t", SCHEMA,
                           properties={"format-version": "3"})
    assert tbl.metadata.format_version == 3

    s1 = _snap(101, 1)
    s1["summary"]["added-records"] = "10"
    tbl.commit_snapshot(s1)
    committed = next(s for s in tbl.metadata.snapshots if s.snapshot_id == 101)
    assert committed.first_row_id == 0
    assert tbl.metadata.next_row_id == 10

    s2 = _snap(202, 2)
    s2["summary"]["added-records"] = "7"
    tbl.commit_snapshot(s2)
    committed = next(s for s in tbl.metadata.snapshots if s.snapshot_id == 202)
    assert committed.first_row_id == 10
    assert tbl.metadata.next_row_id == 17

    # a v2 table never gets first-row-id assigned
    tbl2 = cat.create_table("db", "t2", SCHEMA)
    tbl2.commit_snapshot(_snap(11, 1))
    committed = next(s for s in tbl2.metadata.snapshots if s.snapshot_id == 11)
    assert committed.first_row_id is None


def test_delete_commit_retries_past_concurrent_append(stub):
    """A concurrent APPEND does not invalidate a DELETE: every intervening
    snapshot is a pure append, so the delete rebases and commits (reference:
    iceberg_transaction.cpp DeleteCanReapply)."""
    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    tbl = cat.create_table("db", "t", SCHEMA)
    tbl.commit_snapshot(_snap(11, 1))
    state.commit_conflicts_to_inject = 1
    state.conflict_winner_operation = "append"
    tbl.commit_snapshot(_snap(22, 2), operation="delete",
                        rebuild_fn=_rebuilder(22))
    assert tbl.metadata.current_snapshot_id == 22


def test_delete_commit_conflict_with_rewrite_not_retried(stub):
    """A concurrent overwrite/replace may have rewritten the delete's target
    rows — the conflict must surface instead of silently re-applying, even
    when a rebuilder is available."""
    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    tbl = cat.create_table("db", "t", SCHEMA)
    tbl.commit_snapshot(_snap(11, 1))
    state.commit_conflicts_to_inject = 1
    state.conflict_winner_operation = "replace"
    with pytest.raises(CommitConflict):
        tbl.commit_snapshot(_snap(22, 2), operation="delete",
                            rebuild_fn=_rebuilder(22))


def test_http_errors_surface(stub):
    base, _ = stub
    cat = _catalog(base)
    with pytest.raises(CatalogError) as ei:
        cat.load_table("nope", "missing")
    assert ei.value.status == 404


# --- server-side scan planning (planTableScan) ------------------------------

def _content_file_json(df, spec_id=0, content="data"):
    return {"content": content, "file-path": df.file_path,
            "file-format": "parquet", "spec-id": spec_id,
            "record-count": df.record_count,
            "file-size-in-bytes": df.file_size_in_bytes,
            "equality-ids": df.equality_ids,
            "content-offset": df.content_offset,
            "content-size-in-bytes": df.content_size_in_bytes}


def _register_disk_table(state, loc, name="t"):
    """Expose an on-disk Iceberg table through the stub catalog."""
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata

    tm = load_table_metadata(loc)
    state.namespaces[("db",)] = {}
    state.tables[("db", name)] = tm.to_json()
    return tm


def test_predicate_to_rest_serialization():
    from duckdb_iceberg_spark.catalog.scan_planning import predicate_to_rest
    from duckdb_iceberg_spark.plans.predicates import parse_where

    f = predicate_to_rest(parse_where(
        "a = 1 AND b >= 2.5 OR c IN ('x', 'y') AND d IS NOT NULL"))
    assert f == {
        "type": "or",
        "left": {"type": "and",
                 "left": {"type": "eq", "term": "a", "value": 1},
                 "right": {"type": "gt-eq", "term": "b", "value": 2.5}},
        "right": {"type": "and",
                  "left": {"type": "in", "term": "c", "values": ["x", "y"]},
                  "right": {"type": "not-null", "term": "d"}},
    }
    assert predicate_to_rest(parse_where(
        "ts < TIMESTAMP '1997-01-01 00:00:00'")) == {
        "type": "lt", "term": "ts", "value": "1997-01-01T00:00:00"}
    assert predicate_to_rest(None) is None
    # variant_get terms have no REST serialization: the conjunct is dropped
    # (conservative), not a TypeError at request time
    import json
    got = predicate_to_rest(parse_where(
        "variant_get(v, '$.a') = 1 AND a = 2"))
    assert got == {"type": "eq", "term": "a", "value": 2}
    json.dumps(got)
    assert predicate_to_rest(parse_where("variant_get(v, '$.a') = 1")) is None
    # ...but inside OR, dropping the unserializable disjunct would over-prune
    # (rows matching only the variant side would be lost) — the whole OR
    # must serialize to None (send no filter; Spark's residual filter is exact)
    assert predicate_to_rest(parse_where(
        "a = 1 OR variant_get(v, '$.a') = 1")) is None
    # And an OR nested under AND: the unsound OR disappears, the sound
    # conjunct survives (AND may drop children)
    assert predicate_to_rest(parse_where(
        "b = 2 AND (a = 1 OR variant_get(v, '$.a') = 1)")) == {
        "type": "eq", "term": "b", "value": 2}


def test_server_planned_scan_matches_client(stub, spark, sf_dir, tmp_path):
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    write_iceberg(load(spark, sf_dir, "nation").repartition(2), loc)
    tm = _register_disk_table(state, loc)
    client_plan = plan_scan(tm, tm.select_snapshot())
    assert len(client_plan.tasks) == 2

    # first task inline, second behind a plan-task page (pagination)
    t0, t1 = client_plan.tasks
    state.plan_response = {
        "status": "completed",
        "file-scan-tasks": [{"data-file": _content_file_json(t0.data_file)}],
        "plan-tasks": ["page-1"],
    }
    state.plan_pages["page-1"] = {
        "file-scan-tasks": [{"data-file": _content_file_json(t1.data_file)}]}

    cat = _catalog(base)
    tbl = cat.load_table("db", "t")
    got = scan_rest_table(spark, tbl, "n_nationkey < 10")
    want = iceberg_scan(spark, loc, where="n_nationkey < 10")
    assert sorted(r.n_nationkey for r in got.collect()) == \
        sorted(r.n_nationkey for r in want.collect())
    assert state.last_plan_filter == {"type": "lt", "term": "n_nationkey",
                                      "value": 10}


def test_server_planned_scan_async_and_deletes(stub, spark, sf_dir, tmp_path):
    """Async submitted/poll protocol + delete-file-references application."""
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from duckdb_iceberg_spark.sources.dml import delete_from
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    write_iceberg(load(spark, sf_dir, "orders"), loc)
    delete_from(spark, loc, "o_orderkey % 7 = 0", mode="merge-on-read")
    tm = _register_disk_table(state, loc)
    client_plan = plan_scan(tm, tm.select_snapshot())

    delete_files, fst = [], []
    for t in client_plan.tasks:
        refs = []
        for d in t.positional_deletes:
            refs.append(len(delete_files))
            delete_files.append(_content_file_json(d, content="position-deletes"))
        fst.append({"data-file": _content_file_json(t.data_file),
                    "delete-file-references": refs})
    state.plan_response = {"status": "completed", "file-scan-tasks": fst,
                           "delete-files": delete_files}
    state.async_polls = 2

    cat = _catalog(base)
    tbl = cat.load_table("db", "t")
    got = scan_rest_table(spark, tbl).count()
    want = iceberg_scan(spark, loc).count()
    assert got == want
    # polled GET plan/{id} until completed
    polls = [p for m, p in state.requests if m == "GET" and "/plan/" in p]
    assert len(polls) >= 2


def test_server_planning_falls_back_to_client(stub, spark, sf_dir, tmp_path):
    from duckdb_iceberg_spark import iceberg_scan, write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    write_iceberg(load(spark, sf_dir, "region"), loc)
    _register_disk_table(state, loc)
    state.plan_response = None  # endpoint 404s -> client-side planning

    cat = _catalog(base)
    tbl = cat.load_table("db", "t")
    got = scan_rest_table(spark, tbl).count()
    assert got == iceberg_scan(spark, loc).count()


# --- SigV4 ------------------------------------------------------------------

def test_sigv4_aws_doc_vector():
    """The published AWS SigV4 example request (doc test vector) must
    reproduce the documented signature exactly."""
    import datetime

    from duckdb_iceberg_spark.catalog.sigv4 import SigV4Config, sign_request

    cfg = SigV4Config(access_key="AKIDEXAMPLE",
                      secret_key="wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY",
                      region="us-east-1", service="iam",
                      sign_payload_header=False)
    now = datetime.datetime(2015, 8, 30, 12, 36, 0,
                            tzinfo=datetime.timezone.utc)
    h = sign_request(
        cfg, "GET",
        "https://iam.amazonaws.com/?Action=ListUsers&Version=2010-05-08",
        {"content-type": "application/x-www-form-urlencoded; charset=utf-8"},
        b"", now=now)
    assert h["Authorization"] == (
        "AWS4-HMAC-SHA256 "
        "Credential=AKIDEXAMPLE/20150830/us-east-1/iam/aws4_request, "
        "SignedHeaders=content-type;host;x-amz-date, "
        "Signature=5d672d79c15b13162d9279b0855cfba6789a8edb4c82c400e06b5924a6f2b5d7")


def test_sigv4_catalog_round_trip(stub):
    """Catalog requests carry a SigV4 Authorization the server can verify
    by re-deriving the signature from the received request."""
    import datetime

    from duckdb_iceberg_spark.catalog.sigv4 import SigV4Config, sign_request

    base, state = stub
    cfg = SigV4Config(access_key="AKID", secret_key="SECRET",
                      region="eu-west-1", service="glue",
                      session_token="SESSTOK")
    cat = RestCatalog(RestCatalogConfig(uri=base, sigv4=cfg))
    cat.create_namespace("db")
    assert cat.list_namespaces() == [["db"]]

    method, path, raw_headers = state.last_signed_request
    headers = {k.lower(): v for k, v in raw_headers.items()}
    auth = headers["authorization"]
    assert "Credential=AKID/" in auth and "/eu-west-1/glue/aws4_request" in auth
    assert "x-amz-security-token" in auth  # session token is signed

    # server-side verification: re-sign the received request with the same
    # secret at the transmitted x-amz-date; signatures must agree
    amz = headers["x-amz-date"]
    now = datetime.datetime.strptime(amz, "%Y%m%dT%H%M%SZ").replace(
        tzinfo=datetime.timezone.utc)
    resigned = sign_request(
        cfg, method, base + path,
        {"Content-Type": headers["content-type"]}, None, now=now)
    assert resigned["Authorization"].split("Signature=")[1] == \
        auth.split("Signature=")[1]


# --- multi-table transactions ----------------------------------------------

def _change(tbl, snap):
    ns = tbl.namespace.split(".") if isinstance(tbl.namespace, str) \
        else list(tbl.namespace)
    return {
        "identifier": {"namespace": ns, "name": tbl.name},
        "requirements": [
            {"type": "assert-table-uuid", "uuid": tbl.metadata.table_uuid},
            {"type": "assert-ref-snapshot-id", "ref": "main",
             "snapshot-id": tbl.metadata.current_snapshot_id},
        ],
        "updates": [
            {"action": "add-snapshot", "snapshot": snap},
            {"action": "set-snapshot-ref", "ref-name": "main",
             "type": "branch", "snapshot-id": snap["snapshot-id"]},
        ],
    }


def test_multi_table_transaction_commit(stub):
    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    ta = cat.create_table("db", "a", SCHEMA)
    tb = cat.create_table("db", "b", SCHEMA)

    cat.commit_transaction([_change(ta, _snap(101, 1)), _change(tb, _snap(202, 1))])
    assert ta.refresh().metadata.current_snapshot_id == 101
    assert tb.refresh().metadata.current_snapshot_id == 202


def test_multi_table_transaction_atomic_on_conflict(stub):
    """A stale requirement on the second table aborts the whole
    transaction — the first table must not advance either."""
    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    ta = cat.create_table("db", "a", SCHEMA)
    tb = cat.create_table("db", "b", SCHEMA)

    bad = _change(tb, _snap(404, 1))
    bad["requirements"][1]["snapshot-id"] = 999  # stale
    with pytest.raises(CommitConflict):
        cat.commit_transaction([_change(ta, _snap(303, 1)), bad])
    assert ta.refresh().metadata.current_snapshot_id is None
    assert tb.refresh().metadata.current_snapshot_id is None


def test_register_table_and_attach_catalog_sql(stub, spark, sf_dir, tmp_path):
    """SQL surface: register_table / attach_catalog make tables addressable
    from spark.sql (the reference's ATTACH makes cat.ns.tbl resolvable)."""
    from duckdb_iceberg_spark import attach_catalog, register_table, write_iceberg
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    src = load(spark, sf_dir, "nation")
    write_iceberg(src, loc)

    # filesystem path registration
    register_table(spark, "nation_v", loc)
    got = spark.sql("SELECT count(*) AS c FROM nation_v").collect()[0].c
    assert got == src.count()
    one = spark.sql(
        "SELECT n_name FROM nation_v WHERE n_nationkey = 3").collect()
    assert len(one) == 1

    # catalog attach: every namespace table becomes a view
    _register_disk_table(state, loc, name="nation")
    cat = _catalog(base)
    views = attach_catalog(spark, cat, "db", view_prefix="ice_")
    assert views == ["ice_nation"]
    got2 = spark.sql("SELECT count(*) AS c FROM ice_nation").collect()[0].c
    assert got2 == src.count()


def test_vended_credentials_register_table_io(stub):
    """LoadTableResult `config` storage credentials become a location-scoped
    FileIO (vended-credential plumbing; reference:
    iceberg_table_secret_provider.cpp) plus per-bucket Hadoop conf."""
    from duckdb_iceberg_spark import io as fio

    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"}]}
    cat.create_table("db", "vt", schema, location="s3://vendbkt/wh/vt")
    state.vended_config = {
        "s3.access-key-id": "VAK", "s3.secret-access-key": "VSK",
        "s3.endpoint": "http://127.0.0.1:9000", "s3.region": "eu-west-1",
    }
    try:
        t = cat.load_table("db", "vt")
        assert t.storage_config["s3.access-key-id"] == "VAK"
        io = fio.get_io("s3://vendbkt/wh/vt/metadata/v1.metadata.json")
        assert io.storage_options().get("access_key") == "VAK"
        # a path under a different bucket does NOT get the vended creds
        other = fio.get_io("s3://otherbkt/x")
        assert other.storage_options().get("access_key") != "VAK"
        hadoop = t.spark_hadoop_options()
        assert hadoop["fs.s3a.bucket.vendbkt.access.key"] == "VAK"
        assert hadoop["fs.s3a.bucket.vendbkt.endpoint.region"] == "eu-west-1"
    finally:
        fio.clear_location_ios()
        state.vended_config = None


def test_attach_aws_arn_and_glue_forms():
    """ARN/Glue attach sugar derives endpoint + SigV4 service/region
    (reference: iceberg_attach.cpp:104-161)."""
    from duckdb_iceberg_spark.catalog.rest_catalog import attach_aws_catalog_config

    cfg = attach_aws_catalog_config(
        "arn:aws:s3tables:us-west-2:123456789012:bucket/my-tables",
        access_key="AK", secret_key="SK")
    assert cfg.uri == "https://s3tables.us-west-2.amazonaws.com/iceberg"
    assert cfg.sigv4.service == "s3tables" and cfg.sigv4.region == "us-west-2"
    assert cfg.warehouse.endswith("bucket/my-tables")

    cfg = attach_aws_catalog_config(
        "123456789012:mycat", region="eu-central-1",
        access_key="AK", secret_key="SK")
    assert cfg.uri == "https://glue.eu-central-1.amazonaws.com/iceberg"
    assert cfg.sigv4.service == "glue" and cfg.sigv4.region == "eu-central-1"

    for w in (":", "123456789012", "cat1/cat2", "123456789012:cat1/cat2"):
        attach_aws_catalog_config(w, region="us-east-1",
                                  access_key="AK", secret_key="SK")

    import pytest as _pytest
    with _pytest.raises(ValueError):
        attach_aws_catalog_config("arn:aws:s3tables::123:bucket/x",
                                  access_key="AK", secret_key="SK")
    with _pytest.raises(ValueError):
        attach_aws_catalog_config("bad::warehouse", region="us-east-1",
                                  access_key="AK", secret_key="SK")
    with _pytest.raises(ValueError):
        attach_aws_catalog_config("123456789012", access_key="AK",
                                  secret_key="SK")  # Glue needs region


def test_rest_append_and_delete_data_plane(stub, spark, sf_dir, tmp_path):
    """End-to-end DML THROUGH the catalog: RestTable.append writes parquet +
    manifests into table storage and commits via CommitTableRequest (never
    a filesystem metadata swap); delete_where commits a MoR delete snapshot
    the same way. The stub is the source of truth for current metadata."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    nation = load(spark, sf_dir, "nation")
    write_iceberg(nation, loc)
    def _version_files():
        return sorted(f for f in os.listdir(os.path.join(loc, "metadata"))
                      if f.endswith(".metadata.json"))

    disk_versions = _version_files()
    _register_disk_table(state, loc)

    cat = _catalog(base)
    tbl = cat.load_table("db", "t")
    state.plan_response = None  # force client-side planning

    tbl.append(spark, nation.filter("n_nationkey < 5")
               .withColumn("n_nationkey", F.col("n_nationkey") + 100))
    assert scan_rest_table(spark, tbl, server_planning=False).count() == 30
    # the commit went through the catalog: snapshot visible in stub metadata,
    # but the on-disk metadata log did NOT advance
    assert len(state.tables[("db", "t")]["snapshots"]) == 2
    assert _version_files() == disk_versions  # no filesystem metadata swap

    tbl.delete_where(spark, "n_nationkey >= 100")
    got = scan_rest_table(spark, tbl, server_planning=False)
    assert got.count() == 25
    assert got.filter("n_nationkey >= 100").count() == 0
    assert len(state.tables[("db", "t")]["snapshots"]) == 3
    # commit operations recorded over the wire
    commits = [p for m, p in state.requests
               if m == "POST" and p.endswith("/tables/t")]
    assert len(commits) == 2


def test_sql_dml_routes_to_rest_catalog(stub, spark, sf_dir, tmp_path):
    """execute_sql INSERT/DELETE on a registered REST table commit through
    the catalog (previously NotImplementedError)."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.sources.sql import execute_sql, register_table
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    write_iceberg(load(spark, sf_dir, "region"), loc)
    _register_disk_table(state, loc, name="reg")
    state.plan_response = None

    cat = _catalog(base)
    tbl = cat.load_table("db", "reg")
    register_table(spark, "rest_reg", tbl)

    res = execute_sql(
        spark,
        "INSERT INTO rest_reg SELECT r_regionkey + 50 AS r_regionkey, "
        "concat('NEW-', r_name) AS r_name FROM rest_reg")
    assert res.first().operation == "INSERT"
    assert spark.sql("SELECT count(*) c FROM rest_reg").first().c == 10
    assert len(state.tables[("db", "reg")]["snapshots"]) == 2

    execute_sql(spark, "DELETE FROM rest_reg WHERE r_regionkey >= 50")
    assert spark.sql("SELECT count(*) c FROM rest_reg").first().c == 5
    assert len(state.tables[("db", "reg")]["snapshots"]) == 3

    # UPDATE and MERGE also commit through the catalog
    execute_sql(spark,
                "UPDATE rest_reg SET r_name = concat('U-', r_name) "
                "WHERE r_regionkey = 0")
    assert spark.sql("SELECT r_name FROM rest_reg WHERE r_regionkey = 0"
                     ).first().r_name.startswith("U-")
    assert len(state.tables[("db", "reg")]["snapshots"]) == 4

    spark.createDataFrame([(1, "MERGED"), (9, "NEWROW")],
                          "r_regionkey: long, r_name: string"
                          ).createOrReplaceTempView("reg_updates")
    execute_sql(spark,
                "MERGE INTO rest_reg t USING reg_updates s "
                "ON t.r_regionkey = s.r_regionkey "
                "WHEN MATCHED THEN UPDATE SET r_name = s.r_name "
                "WHEN NOT MATCHED THEN INSERT *")
    rows = {r.r_regionkey: r.r_name for r in spark.sql(
        "SELECT * FROM rest_reg").collect()}
    assert rows[1] == "MERGED" and rows[9] == "NEWROW"
    assert len(state.tables[("db", "reg")]["snapshots"]) == 5


def test_rest_schema_evolution_and_properties(stub, spark, sf_dir, tmp_path):
    """Column DDL + properties + format upgrade on a catalog table commit as
    TableUpdates (add-schema/set-current-schema/set-properties/
    upgrade-format-version), never a filesystem write; scans resolve the
    evolved schema."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from duckdb_iceberg_spark.sources import ddl
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    write_iceberg(load(spark, sf_dir, "region"), loc, format_version=2)
    _register_disk_table(state, loc, name="ddl")
    state.plan_response = None

    cat = _catalog(base)
    tbl = cat.load_table("db", "ddl")

    ddl.add_column(tbl, "r_score", "long")
    ddl.rename_column(tbl, "r_score", "score")
    meta = state.tables[("db", "ddl")]
    assert len(meta["schemas"]) == 3  # original + 2 evolutions, server-side
    names = {f["name"] for f in meta["schemas"][-1]["fields"]}
    assert "score" in names and "r_score" not in names
    df = scan_rest_table(spark, tbl, server_planning=False)
    assert "score" in df.columns and df.count() == 5

    ddl.set_table_properties(tbl, {"commit.retry.num-retries": "9"})
    assert meta["properties"]["commit.retry.num-retries"] == "9"
    ddl.remove_table_properties(tbl, ["commit.retry.num-retries"])
    assert "commit.retry.num-retries" not in meta["properties"]

    ddl.set_table_properties(tbl, {"format-version": "3"})
    assert meta["format-version"] == 3
    with pytest.raises(ValueError, match="downgrade"):
        ddl.upgrade_format_version(tbl, 2)

    # spec + sort-order evolution commit as add-spec / add-sort-order
    ddl.set_partitioned_by(tbl, ["r_name"])
    assert meta["default-spec-id"] == 1
    assert meta["partition-specs"][-1]["fields"][0]["name"] == "r_name"
    ddl.set_sorted_by(tbl, [("r_regionkey", "desc")])
    assert meta["default-sort-order-id"] == 1
    # snapshot refs commit as set-/remove-snapshot-ref
    cur = tbl.metadata.current_snapshot_id
    ddl.create_tag(tbl, "v1")
    assert meta["refs"]["v1"] == {"snapshot-id": cur, "type": "tag"}
    ddl.drop_ref(tbl, "v1")
    assert "v1" not in meta.get("refs", {})


def test_rest_ctas(stub, spark, tmp_path):
    """create_table_as: schema derived from the DataFrame, table created in
    the catalog, rows appended as the first catalog-committed snapshot."""
    from duckdb_iceberg_spark.catalog import scan_rest_table

    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db2")
    df = spark.range(20).selectExpr("id", "cast(id % 3 as string) AS g")
    tbl = cat.create_table_as(spark, "db2", "ctas", df,
                              location=str(tmp_path / "ctas"))
    state.plan_response = None
    got = scan_rest_table(spark, tbl, server_planning=False)
    assert got.count() == 20
    assert {f["name"] for f in tbl.metadata.schema_json()["fields"]} == {"id", "g"}
    assert len(state.tables[("db2", "ctas")]["snapshots"]) == 1


def test_multi_table_data_plane_transaction(stub, spark, sf_dir, tmp_path):
    """CatalogTransaction: an append on table A and a MoR DELETE on table B
    stage their snapshots and commit atomically via CommitTransactionRequest
    — a conflict applies NEITHER."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from duckdb_iceberg_spark.sources.dml import delete_from
    from tests.conftest import load

    base, state = stub
    loc_a, loc_b = str(tmp_path / "a"), str(tmp_path / "b")
    write_iceberg(load(spark, sf_dir, "region"), loc_a)
    write_iceberg(load(spark, sf_dir, "nation"), loc_b)
    _register_disk_table(state, loc_a, name="a")
    _register_disk_table(state, loc_b, name="b")
    state.plan_response = None
    cat = _catalog(base)

    txn = cat.transaction()
    ta = txn.table("db", "a")
    tb = txn.table("db", "b")
    ta.append(spark, load(spark, sf_dir, "region")
              .withColumn("r_regionkey", F.col("r_regionkey") + 10))
    delete_from(spark, tb, "n_regionkey = 0", mode="merge-on-read")
    # nothing visible yet: staged, not committed
    assert len(state.tables[("db", "a")]["snapshots"]) == 1
    assert len(state.tables[("db", "b")]["snapshots"]) == 1
    txn.commit()
    assert len(state.tables[("db", "a")]["snapshots"]) == 2
    assert len(state.tables[("db", "b")]["snapshots"]) == 2
    assert scan_rest_table(spark, cat.load_table("db", "a"),
                           server_planning=False).count() == 10
    got_b = scan_rest_table(spark, cat.load_table("db", "b"),
                            server_planning=False)
    assert got_b.count() == 20 and got_b.filter("n_regionkey = 0").count() == 0

    # a second staged change on the same table CHAINS onto the first
    # (reference: test_delete_consolidation_transactional.test)
    txn2 = cat.transaction()
    t2 = txn2.table("db", "a")
    t2.append(spark, load(spark, sf_dir, "region"))
    t2.append(spark, load(spark, sf_dir, "region"))
    txn2.commit()
    assert scan_rest_table(spark, cat.load_table("db", "a"),
                           server_planning=False).count() == 20  # 10 + 2x5


def test_rest_compaction_replace_commit(stub, spark, sf_dir, tmp_path):
    """rewrite_data_files on a catalog table commits the REPLACE snapshot
    through the catalog."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from duckdb_iceberg_spark.sources.maintenance import rewrite_data_files
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    sup = load(spark, sf_dir, "supplier")
    for _ in range(3):
        write_iceberg(sup.repartition(2), loc)
    _register_disk_table(state, loc, name="compact")
    state.plan_response = None
    cat = _catalog(base)
    tbl = cat.load_table("db", "compact")
    n_snaps = len(state.tables[("db", "compact")]["snapshots"])

    summary = rewrite_data_files(spark, tbl, min_input_files=2)
    assert summary["rewritten_data_files_count"] >= 2
    assert len(state.tables[("db", "compact")]["snapshots"]) == n_snaps + 1
    got = scan_rest_table(spark, cat.load_table("db", "compact"),
                          server_planning=False)
    assert got.count() == sup.count() * 3


def test_rest_expire_snapshots(stub, spark, sf_dir, tmp_path):
    """expire_snapshots on a catalog table commits remove-snapshots."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.sources.maintenance import expire_snapshots
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    reg = load(spark, sf_dir, "region")
    write_iceberg(reg, loc)
    write_iceberg(reg, loc)
    write_iceberg(reg, loc)
    _register_disk_table(state, loc, name="exp")
    cat = _catalog(base)
    tbl = cat.load_table("db", "exp")
    assert len(state.tables[("db", "exp")]["snapshots"]) == 3
    # statistics keyed by the first two (to-be-expired) snapshots must be
    # removed via the spec's remove-statistics update actions
    snaps = [sn["snapshot-id"]
             for sn in state.tables[("db", "exp")]["snapshots"]]
    state.tables[("db", "exp")]["statistics"] = [
        {"snapshot-id": sid, "statistics-path": f"s3://b/{sid}.puffin",
         "file-size-in-bytes": 1, "file-footer-size-in-bytes": 1,
         "blob-metadata": []} for sid in snaps]
    tbl = cat.load_table("db", "exp")

    out = expire_snapshots(tbl, retain_last=1, delete_files=False)
    assert out["expired"] == 2
    assert len(state.tables[("db", "exp")]["snapshots"]) == 1
    assert tbl.metadata.current_snapshot() is not None
    kept_stats = [s["snapshot-id"]
                  for s in state.tables[("db", "exp")]["statistics"]]
    assert kept_stats == [snaps[-1]]


def test_rest_expire_ref_retention(stub, spark, sf_dir, tmp_path):
    """r13: expire on a catalog table drops an aged-out ref
    (remove-snapshot-ref) in the same commit as remove-snapshots, and a
    branch's min-snapshots-to-keep protects its ancestors."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.sources import ddl
    from duckdb_iceberg_spark.sources.maintenance import expire_snapshots
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    reg = load(spark, sf_dir, "region")
    for _ in range(3):
        write_iceberg(reg, loc)
    _register_disk_table(state, loc, name="refret")
    cat = _catalog(base)
    tbl = cat.load_table("db", "refret")
    snaps = [sn["snapshot-id"]
             for sn in state.tables[("db", "refret")]["snapshots"]]

    # an already-aged-out tag on the oldest snapshot, and a branch whose
    # retention keeps its full 2-ancestor chain
    ddl.create_tag(tbl, "stale", snaps[0], max_ref_age_ms=0)
    tbl = cat.load_table("db", "refret")
    ddl.create_branch(tbl, "keep2", snaps[1], min_snapshots_to_keep=2)
    tbl = cat.load_table("db", "refret")

    out = expire_snapshots(tbl, retain_last=1, delete_files=False)
    assert out["dropped_refs"] == ["stale"]
    assert out["expired"] == 0  # snaps[0] survives via keep2's ancestry
    refs = state.tables[("db", "refret")].get("refs") or {}
    assert "stale" not in refs and "keep2" in refs
    assert refs["keep2"]["min-snapshots-to-keep"] == 2
    assert len(state.tables[("db", "refret")]["snapshots"]) == 3


def test_v3_conflict_rebuild_claims_range_after_winner(stub, spark, sf_dir, tmp_path):
    """A v3 data-plane append whose row-id range was claimed by a
    concurrent winner REBUILDS its manifests on retry: the fresh build
    assigns first_row_ids from the refreshed next-row-id, so the retried
    snapshot claims the range AFTER the winner's rows (never renumbers the
    stale JSON, never duplicates ids). A DV-only DELETE claims an empty
    range and also retries cleanly."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from duckdb_iceberg_spark.sources.dml import delete_from
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    write_iceberg(load(spark, sf_dir, "region"), loc, format_version=3)
    _register_disk_table(state, loc, name="v3")
    state.plan_response = None
    cat = _catalog(base)
    tbl = cat.load_table("db", "v3")

    # fake winners need a REAL manifest list so post-conflict planning
    # works (the stub's winner is metadata-only)
    state.conflict_winner_manifest_list = \
        tbl.metadata.current_snapshot().manifest_list
    state.commit_conflicts_to_inject = 1
    state.conflict_winner_operation = "append"
    state.conflict_winner_rows = 7  # winner claimed row-ids [5, 12)
    tbl.append(spark, load(spark, sf_dir, "region")
               .withColumn("r_regionkey", F.col("r_regionkey") + 10))
    committed = state.tables[("db", "v3")]["snapshots"][-1]
    assert committed["first-row-id"] == 12  # after base 5 + winner 7
    assert state.tables[("db", "v3")]["next-row-id"] == 17
    # appended rows carry the post-winner range, base rows keep theirs
    rows = {r.r_regionkey: r._row_id for r in scan_rest_table(
        spark, tbl.refresh(), server_planning=False,
        with_row_lineage=True).collect()}
    assert sorted(rows[k] for k in rows if k >= 10) == list(range(12, 17))

    # DV-only delete: empty row-id range, retry is safe -> commits
    tbl.refresh()
    n_before = len(state.tables[("db", "v3")]["snapshots"])
    state.commit_conflicts_to_inject = 1
    state.conflict_winner_rows = 7
    delete_from(spark, tbl, "r_regionkey = 0", mode="merge-on-read")
    assert len(state.tables[("db", "v3")]["snapshots"]) == n_before + 2  # winner + delete


def test_conflict_retry_carries_concurrent_winners_files(stub, spark, sf_dir, tmp_path):
    """THE data-loss regression: two writers race, the loser's retry must
    carry the winner's manifests. tbl2 commits an append; tbl (a stale
    handle) appends next — its first POST fails the stub's real CAS check,
    the retry rebuilds the manifest list from refreshed metadata, and the
    final table holds BOTH appends (pre-fix: the loser's stale manifest
    list silently dropped the winner's files)."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    region = load(spark, sf_dir, "region")
    write_iceberg(region, loc)
    _register_disk_table(state, loc, name="race")
    state.plan_response = None
    cat = _catalog(base)
    tbl = cat.load_table("db", "race")
    tbl2 = cat.load_table("db", "race")

    # winner commits through tbl2; tbl's local metadata is now stale
    tbl2.append(spark, region.withColumn(
        "r_regionkey", F.col("r_regionkey") + 100))
    assert len(state.tables[("db", "race")]["snapshots"]) == 2

    # loser appends from the stale handle: real 409 (assert-ref-snapshot-id
    # fails), then rebuild + retry
    tbl.append(spark, region.withColumn(
        "r_regionkey", F.col("r_regionkey") + 200))
    assert len(state.tables[("db", "race")]["snapshots"]) == 3

    got = scan_rest_table(spark, tbl.refresh(), server_planning=False)
    assert got.count() == 15  # base 5 + winner 5 + loser 5
    keys = {r.r_regionkey for r in got.collect()}
    assert {k for k in keys if 100 <= k < 200} == {100, 101, 102, 103, 104}
    assert {k for k in keys if k >= 200} == {200, 201, 202, 203, 204}


def test_rest_upgrade_retro_rowids_advance_next_row_id(stub, spark, tmp_path):
    """First v3 commit after an upgrade on a CATALOG table: the snapshot's
    claimed row-id range covers the retroactively-assigned carried rows
    (assigned-rows summary), so the server's next-row-id advances past
    them — the following append must not reuse their ids."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from duckdb_iceberg_spark.sources import ddl

    base, state = stub
    loc = str(tmp_path / "t")
    write_iceberg(spark.range(10).selectExpr("id", "id * 1.0 AS v")
                  .coalesce(1), loc, format_version=2)
    _register_disk_table(state, loc, name="up")
    state.plan_response = None
    cat = _catalog(base)
    tbl = cat.load_table("db", "up")

    ddl.upgrade_format_version(tbl, 3)
    tbl.append(spark, spark.range(10, 15).selectExpr("id", "id * 1.0 AS v")
               .coalesce(1))
    # server advanced past carried rows (10) + new rows (5)
    assert state.tables[("db", "up")]["next-row-id"] == 15
    tbl.append(spark, spark.range(15, 18).selectExpr("id", "id * 1.0 AS v")
               .coalesce(1))
    got = {r.id: r._row_id for r in scan_rest_table(
        spark, tbl.refresh(), server_planning=False,
        with_row_lineage=True).collect()}
    assert sorted(got.values()) == list(range(18))  # dense, no reuse


def test_inspection_tables_accept_rest_tables(stub, spark, sf_dir, tmp_path):
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.sources import metadata_tables as mt
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    write_iceberg(load(spark, sf_dir, "region"), loc)
    write_iceberg(load(spark, sf_dir, "region"), loc)
    _register_disk_table(state, loc, name="insp")
    tbl = _catalog(base).load_table("db", "insp")

    assert mt.iceberg_snapshots(spark, tbl).count() == 2
    assert mt.iceberg_metadata(spark, tbl).count() >= 2
    assert mt.iceberg_column_stats(spark, tbl).filter(
        "column_name = 'r_regionkey'").count() >= 1
    assert mt.iceberg_history(spark, tbl).count() == 2


def test_delete_retry_past_concurrent_append_carries_winner(stub, spark, sf_dir, tmp_path):
    """Data-plane DELETE vs concurrent APPEND: the delete's retry REBUILDS
    its manifest list from the refreshed metadata, so the final tip holds
    the winner's appended files AND applies the delete — neither is lost
    (the DeleteCanReapply case of the rebuild-on-conflict fix)."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    region = load(spark, sf_dir, "region")
    write_iceberg(region, loc)
    _register_disk_table(state, loc, name="dra")
    state.plan_response = None
    cat = _catalog(base)

    # author the winner's REAL manifest list (base + appended rows), then
    # rewind the stub so the loser starts from the base snapshot and the
    # injected conflict replays the winner
    tbl2 = cat.load_table("db", "dra")
    tbl2.append(spark, region.withColumn(
        "r_regionkey", F.col("r_regionkey") + 100))
    meta = state.tables[("db", "dra")]
    winner = meta["snapshots"].pop()
    meta["current-snapshot-id"] = meta["snapshots"][0]["snapshot-id"]
    meta["refs"]["main"]["snapshot-id"] = meta["current-snapshot-id"]
    state.conflict_winner_manifest_list = winner["manifest-list"]
    state.conflict_winner_operation = "append"
    state.commit_conflicts_to_inject = 1

    tbl = cat.load_table("db", "dra")
    assert tbl.metadata.current_snapshot_id == meta["current-snapshot-id"]
    tbl.delete_where(spark, "r_regionkey IN (0, 101)")

    got = scan_rest_table(spark, tbl.refresh(), server_planning=False)
    keys = sorted(r.r_regionkey for r in got.collect())
    # base minus the matched row 0, plus ALL the winner's appended rows.
    # Row 101 survives by design: the delete planned against its base
    # snapshot and a reapplied delete does not re-match concurrently
    # appended rows (reference DeleteCanReapply semantics) — the invariant
    # under test is that the winner's FILES are never dropped.
    assert keys == [1, 2, 3, 4, 100, 101, 102, 103, 104]


def test_commit_retry_config_properties(stub):
    """commit.retry.num-retries=0 means a single attempt — a conflict
    surfaces even with a rebuilder; tuned wait bounds still allow a retry
    to land (reference: test_commit_retry_config.test +
    iceberg_retry.cpp)."""
    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    tbl = cat.create_table("db", "t", SCHEMA,
                           properties={"commit.retry.num-retries": "0"})
    tbl.commit_snapshot(_snap(11, 1), rebuild_fn=_rebuilder(11))
    state.commit_conflicts_to_inject = 1
    with pytest.raises(CommitConflict):
        tbl.commit_snapshot(_snap(22, 2), rebuild_fn=_rebuilder(22))

    tbl2 = cat.create_table("db", "t2", SCHEMA,
                            properties={"commit.retry.num-retries": "5",
                                        "commit.retry.min-wait-ms": "1",
                                        "commit.retry.max-wait-ms": "2"})
    tbl2.commit_snapshot(_snap(11, 1), rebuild_fn=_rebuilder(11))
    state.commit_conflicts_to_inject = 2
    tbl2.commit_snapshot(_snap(22, 2), rebuild_fn=_rebuilder(22))
    assert tbl2.metadata.current_snapshot_id == 22


# ---------------------------------------------------------------------------
# MAX_TABLE_STALENESS loadTable caching
# ---------------------------------------------------------------------------

def _staleness_catalog(base: str, staleness) -> RestCatalog:
    return RestCatalog(RestCatalogConfig(
        uri=base,
        oauth2=OAuth2Config(server_uri=f"{base}/tokens",
                            client_id="id", client_secret="secret"),
        max_table_staleness=staleness,
    ))


def _table_gets(state, name: str) -> int:
    return sum(1 for m, p in state.requests
               if m == "GET" and p.endswith(f"/tables/{name}"))


def test_staleness_serves_reads_from_cache(stub):
    """Within the staleness window, repeat loads make no HTTP request
    (reference: test_max_table_staleness.test — one metadata request for
    back-to-back reads under a 4-hour window)."""
    base, state = stub
    cat = _staleness_catalog(base, "4 hours")
    cat.create_namespace("db")
    cat.create_table("db", "t", SCHEMA)
    cat.load_table("db", "t")
    n1 = _table_gets(state, "t")
    cat.load_table("db", "t")
    cat.load_table("db", "t")
    assert _table_gets(state, "t") == n1  # cache hits, no new GETs


def test_staleness_expires(stub):
    base, state = stub
    cat = _staleness_catalog(base, 0.05)  # 50 ms window
    cat.create_namespace("db")
    cat.create_table("db", "t2", SCHEMA)
    cat.load_table("db", "t2")
    n1 = _table_gets(state, "t2")
    time.sleep(0.08)
    cat.load_table("db", "t2")
    assert _table_gets(state, "t2") == n1 + 1  # window passed: re-GET


def test_staleness_invalidated_by_write(stub):
    """A commit through the catalog drops the cached loadTable response so
    the next read sees post-write metadata (reference:
    test_stale_cache_after_write.test)."""
    base, state = stub
    cat = _staleness_catalog(base, "4 hours")
    cat.create_namespace("db")
    cat.create_table("db", "t3", SCHEMA)
    t = cat.load_table("db", "t3")
    n1 = _table_gets(state, "t3")
    cat.commit_table("db", "t3", [], [
        {"action": "set-properties", "updates": {"k": "v"}}])
    t = cat.load_table("db", "t3")
    assert _table_gets(state, "t3") == n1 + 1
    assert t.metadata.properties.get("k") == "v"


def test_staleness_disabled_always_requests(stub):
    base, state = stub
    cat = _catalog(base)  # no staleness: every read re-GETs
    cat.create_namespace("db")
    cat.create_table("db", "t4", SCHEMA)
    cat.load_table("db", "t4")
    n1 = _table_gets(state, "t4")
    cat.load_table("db", "t4")
    assert _table_gets(state, "t4") == n1 + 1


def test_rename_invalidates_cache(stub):
    """rename_table drops both cache keys (ADVICE r5): with a staleness
    window set, a load of the old name after a rename must re-request (and
    404) instead of serving the pre-rename cached LoadTableResult."""
    base, state = stub
    cat = _staleness_catalog(base, "4 hours")
    cat.create_namespace("db")
    cat.create_table("db", "rn", SCHEMA)
    cat.load_table("db", "rn")  # cached
    cat.rename_table("db", "rn", "db", "rn2")
    with pytest.raises(Exception, match="(?i)no such table|404|not.?found"):
        cat.load_table("db", "rn")
    assert cat.load_table("db", "rn2").name == "rn2"


def test_list_tables_pagination(stub):
    """pageToken pagination on listTables (REST spec next-page-token;
    reference: catalog_api.cpp:309-361 and r2_catalog/test_r2_pagination
    .test): the client must loop pages until no next-page-token — a
    thousands-of-tables catalog served page-by-page would otherwise be
    silently truncated to page one."""
    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("pdb")
    for i in range(5):
        cat.create_table("pdb", f"t{i}", SCHEMA)
    state.list_page_size = 2
    try:
        n0 = sum(1 for m, p in state.requests
                 if m == "GET" and "/tables" in p)
        names = sorted(t["name"] for t in cat.list_tables("pdb"))
        assert names == [f"t{i}" for i in range(5)]
        n1 = sum(1 for m, p in state.requests
                 if m == "GET" and "/tables" in p)
        assert n1 - n0 == 3  # 2 + 2 + 1 across three pages
    finally:
        state.list_page_size = None


def test_nested_namespaces_crud(stub):
    """Multi-level namespaces (reference: nested_namespaces/
    test_nested_namespaces.test + test_create_if_not_exists.test): tuple
    namespaces serialize with the %1F unit separator on the wire, tables
    CRUD under the nested namespace, and create-if-not-exists tolerates an
    existing namespace without erroring."""
    import urllib.parse as _up

    base, state = stub
    cat = _catalog(base)
    ns = ("org", "team", "proj")
    cat.create_namespace(ns)
    assert ["org", "team", "proj"] in [list(n) for n in cat.list_namespaces()]
    cat.create_table(ns, "t", SCHEMA)
    # the wire path joins parts with the %1F unit separator, never dots
    assert any("\x1f" in _up.unquote(p) for _m, p in state.requests), \
        "nested namespace never hit the wire %1F-joined"
    assert not any("org.team" in p for _m, p in state.requests)
    t = cat.load_table(ns, "t")
    assert t.name == "t"
    assert cat.table_exists(ns, "t")
    cat.drop_table(ns, "t")
    assert not cat.table_exists(ns, "t")
    cat.drop_namespace(ns)
    assert ["org", "team", "proj"] not in [
        list(n) for n in cat.list_namespaces()]

    # a namespace NAME may itself contain dots (reference quotes it:
    # schema_properties_update_nested.test "my.nested.namespace") — passed
    # as a 1-tuple it stays ONE level: dots reach the wire verbatim, no
    # %1F splitting, and properties round-trip under the dotted name
    dotted = ("my.nested.namespace",)
    cat.create_namespace(dotted)
    assert ["my.nested.namespace"] in [list(n) for n in cat.list_namespaces()]
    cat.update_namespace_properties(dotted, updates={"myprop1": "1"})
    assert cat.namespace_properties(dotted)["myprop1"] == "1"
    reqs = [_up.unquote(p) for _m, p in state.requests
            if "my.nested.namespace" in _up.unquote(p)]
    assert reqs and all("\x1f" not in p for p in reqs), reqs
    cat.drop_namespace(dotted)


def test_conflict_invalidates_cache(stub):
    """A 409 commit conflict must ALSO drop the cached loadTable response
    (reference: conflict_invalidates_cache.test): the retry path calls
    refresh() immediately after the conflict, and serving it the
    pre-conflict cache entry would rebase against stale metadata and
    conflict forever. commit_table invalidates before the POST, so the
    load after a FAILED commit re-requests."""
    import pytest as _pytest

    from duckdb_iceberg_spark.catalog.rest_catalog import CommitConflict

    base, state = stub
    cat = _staleness_catalog(base, "4 hours")
    cat.create_namespace("db")
    cat.create_table("db", "cc", SCHEMA)
    cat.load_table("db", "cc")  # cached
    n1 = _table_gets(state, "cc")
    with _pytest.raises(CommitConflict):
        cat.commit_table("db", "cc", [
            {"type": "assert-ref-snapshot-id", "ref": "main",
             "snapshot-id": 123456789},  # wrong on purpose -> 409
        ], [{"action": "set-properties", "updates": {"k": "v"}}])
    cat.load_table("db", "cc")
    assert _table_gets(state, "cc") == n1 + 1, (
        "conflicted commit left a stale loadTable cache entry")


def test_transaction_rollback_restores_table_state(stub, spark, sf_dir, tmp_path):
    """rollback() undoes the in-memory staged mutations (ADVICE r5): the
    table handle's metadata returns to the catalog tip, so post-rollback
    scans don't plan against deleted staged files and a follow-up
    transaction chains onto the real current snapshot."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from tests.conftest import load

    loc = str(tmp_path / "rb")
    write_iceberg(load(spark, sf_dir, "region"), loc)
    base, state = stub
    _register_disk_table(state, loc, name="rb")
    state.plan_response = None
    cat = _catalog(base)

    txn = cat.transaction()
    t = txn.table("db", "rb")
    pre_snap = t.metadata.current_snapshot_id
    pre_count = len(t.metadata.snapshots)
    t.append(spark, load(spark, sf_dir, "region")
             .withColumn("r_regionkey", F.col("r_regionkey") + 10))
    assert len(t.metadata.snapshots) == pre_count + 1  # staged, in-memory
    txn.rollback()
    # in-memory state restored to the catalog tip — on the staged HANDLE
    # too, not just the underlying table (metadata delegates, not aliases)
    assert t.metadata.current_snapshot_id == pre_snap
    assert len(t.metadata.snapshots) == pre_count
    assert t._table.metadata.current_snapshot_id == pre_snap
    # the handle still scans (no dangling staged manifests) …
    assert scan_rest_table(spark, t._table,
                           server_planning=False).count() == 5
    # … and a new transaction on the same handle commits cleanly
    txn2 = cat.transaction()
    t2 = txn2.table("db", "rb")
    t2.append(spark, load(spark, sf_dir, "region")
              .withColumn("r_regionkey", F.col("r_regionkey") + 20))
    txn2.commit()
    assert scan_rest_table(spark, cat.load_table("db", "rb"),
                           server_planning=False).count() == 10


def test_staleness_invalid_and_overflow(stub):
    base, _ = stub
    with pytest.raises(ValueError, match="invalid MAX_TABLE_STALENESS"):
        _staleness_catalog(base, "blah blah")
    with pytest.raises(ValueError, match="out of range"):
        _staleness_catalog(base, "1000000 years")


def test_transaction_rollback_cleans_staged_files(stub, spark, sf_dir, tmp_path):
    """Rolling back an uncommitted transaction leaves the catalog
    untouched AND removes the storage files the staged change wrote —
    data, manifests, manifest list (reference:
    delete/delete_rollback_cleanup.test)."""
    import glob as _glob

    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from duckdb_iceberg_spark.sources.dml import delete_from
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "rb")
    write_iceberg(load(spark, sf_dir, "nation"), loc)
    _register_disk_table(state, loc, name="rb")
    state.plan_response = None
    cat = _catalog(base)

    files_before = set(_glob.glob(f"{loc}/**/*", recursive=True))
    txn = cat.transaction()
    t = txn.table("db", "rb")
    delete_from(spark, t, "n_regionkey = 0", mode="merge-on-read")
    # staged: storage grew, catalog unchanged
    files_staged = set(_glob.glob(f"{loc}/**/*", recursive=True))
    assert files_staged > files_before
    assert len(state.tables[("db", "rb")]["snapshots"]) == 1

    txn.rollback()
    files_after = set(_glob.glob(f"{loc}/**/*", recursive=True))
    leftover = {f for f in files_after - files_before
                if not f.endswith("/")} - {f for f in files_after
                                           if __import__("os").path.isdir(f)}
    assert not leftover, f"rollback left staged files behind: {leftover}"
    assert len(state.tables[("db", "rb")]["snapshots"]) == 1
    got = scan_rest_table(spark, cat.load_table("db", "rb"),
                          server_planning=False)
    assert got.count() == 25  # all rows intact


def test_transaction_chained_dml_on_one_table(stub, spark, sf_dir, tmp_path):
    """Insert + two deletes on ONE table inside one transaction: each
    statement plans against the staged state, reads inside the
    transaction see it, and a single atomic commit lands the chain
    (reference: delete/test_delete_consolidation_commit.test /
    _transactional.test)."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from duckdb_iceberg_spark.sources.dml import delete_from
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "chain")
    write_iceberg(
        spark.createDataFrame(
            [(i, chr(96 + i)) for i in range(1, 6)], "id int, data string"),
        loc)
    _register_disk_table(state, loc, name="chain")
    state.plan_response = None
    cat = _catalog(base)

    txn = cat.transaction()
    t = txn.table("db", "chain")
    delete_from(spark, t, "id IN (2, 4)", mode="merge-on-read")
    # staged state visible mid-transaction through the staged handle
    assert scan_rest_table(spark, t, server_planning=False).count() == 3
    delete_from(spark, t, "id = 5", mode="merge-on-read")
    assert scan_rest_table(spark, t, server_planning=False).count() == 2
    # catalog untouched until commit
    assert len(state.tables[("db", "chain")]["snapshots"]) == 1
    txn.commit()
    snaps = state.tables[("db", "chain")]["snapshots"]
    assert len(snaps) == 3  # base insert + two chained deletes
    got = scan_rest_table(spark, cat.load_table("db", "chain"),
                          server_planning=False)
    assert sorted(r.id for r in got.collect()) == [1, 3]


def test_rest_compute_table_stats(stub, spark, sf_dir, tmp_path):
    """r13: compute_table_stats on a catalog table commits the spec's
    set-statistics TableUpdate; a recompute for the same snapshot
    replaces the entry."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.sources.statistics import (
        THETA_BLOB_TYPE,
        compute_table_stats,
    )
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t_reststats")
    write_iceberg(load(spark, sf_dir, "region"), loc)
    _register_disk_table(state, loc, name="reststats")
    state.plan_response = None
    cat = _catalog(base)
    tbl = cat.load_table("db", "reststats")

    ndv = compute_table_stats(spark, tbl, columns=["r_regionkey"])
    assert ndv == {"r_regionkey": 5}
    stats = state.tables[("db", "reststats")]["statistics"]
    assert len(stats) == 1
    assert stats[0]["blob-metadata"][0]["type"] == THETA_BLOB_TYPE

    tbl = cat.load_table("db", "reststats")
    compute_table_stats(spark, tbl, columns=["r_name"])
    stats = state.tables[("db", "reststats")]["statistics"]
    assert len(stats) == 1  # replaced, not stacked
    assert stats[0]["blob-metadata"][0]["properties"]["ndv"] == "5"


def test_rest_compute_partition_stats(stub, spark, sf_dir, tmp_path):
    """r13: compute_partition_stats on a catalog table commits the
    spec's set-partition-statistics TableUpdate."""
    from duckdb_iceberg_spark import compute_partition_stats, write_iceberg
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t_restpstats")
    write_iceberg(load(spark, sf_dir, "nation"), loc,
                  partition_by=["n_regionkey"])
    _register_disk_table(state, loc, name="restpstats")
    state.plan_response = None
    cat = _catalog(base)
    tbl = cat.load_table("db", "restpstats")

    out = compute_partition_stats(tbl)
    assert out["partitions"] == 5
    ps = state.tables[("db", "restpstats")]["partition-statistics"]
    assert len(ps) == 1 and ps[0]["statistics-path"] == out["path"]


def test_transaction_branch_staged_wap(stub, spark, sf_dir, tmp_path):
    """r13 (VERDICT r12 task 5): a WAP audit pipeline stages SEVERAL DMLs
    on a branch atomically inside one catalog transaction, mixed with a
    main-staged statement on the same table — one change entry, its
    updates adding every snapshot and pointing EACH touched ref at its
    last staged snapshot, with one CAS requirement per ref. Main's head
    moves only by the main-staged append; the branch chain lands whole."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from duckdb_iceberg_spark.sources.dml import delete_from

    base, state = stub
    loc = str(tmp_path / "waptxn")
    write_iceberg(
        spark.createDataFrame(
            [(i, chr(96 + i)) for i in range(1, 9)], "id int, data string"),
        loc)
    _register_disk_table(state, loc, name="waptxn")
    state.plan_response = None
    cat = _catalog(base)

    txn = cat.transaction()
    t = txn.table("db", "waptxn")
    delete_from(spark, t, "id IN (2, 4)", mode="merge-on-read",
                branch="audit")
    delete_from(spark, t, "id = 5", mode="merge-on-read", branch="audit")
    t.append(spark, spark.createDataFrame([(100, "z")],
                                          "id int, data string"))
    # catalog untouched until commit: no audit ref, single base snapshot
    meta = state.tables[("db", "waptxn")]
    assert len(meta["snapshots"]) == 1
    assert "audit" not in (meta.get("refs") or {})

    txn.commit()
    meta = state.tables[("db", "waptxn")]
    assert len(meta["snapshots"]) == 4  # base + 2 branch deletes + append
    refs = meta["refs"]
    assert "audit" in refs
    assert refs["audit"]["snapshot-id"] != meta["current-snapshot-id"]

    tbl = cat.load_table("db", "waptxn")
    # branch content: both staged deletes applied, no main append leak
    audit_ids = sorted(r.id for r in scan_rest_table(
        spark, tbl, ref="audit", server_planning=False).collect())
    assert audit_ids == [1, 3, 6, 7, 8]
    # main content: append only, deletes stayed on the branch
    main_ids = sorted(r.id for r in scan_rest_table(
        spark, tbl, server_planning=False).collect())
    assert main_ids == [1, 2, 3, 4, 5, 6, 7, 8, 100]


def test_transaction_branch_conflict_surfaces(stub, spark, sf_dir, tmp_path):
    """r13: commit() CAS-asserts the BRANCH head recorded when the
    transaction first staged onto it — a concurrent branch commit makes
    the transaction 409 (no silent rebase; the caller re-runs), and
    rollback leaves the catalog untouched."""
    import pytest

    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog.rest_catalog import CommitConflict
    from duckdb_iceberg_spark.sources.dml import delete_from
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "wapconf")
    write_iceberg(load(spark, sf_dir, "nation"), loc)
    _register_disk_table(state, loc, name="wapconf")
    state.plan_response = None
    cat = _catalog(base)

    txn = cat.transaction()
    t = txn.table("db", "wapconf")
    delete_from(spark, t, "n_nationkey < 5", mode="merge-on-read",
                branch="audit")

    # concurrent writer forks the SAME branch before the txn commits
    other = cat.load_table("db", "wapconf")
    delete_from(spark, other, "n_nationkey = 20", mode="merge-on-read",
                branch="audit")
    head_after_winner = \
        state.tables[("db", "wapconf")]["refs"]["audit"]["snapshot-id"]

    with pytest.raises(CommitConflict):
        txn.commit()
    txn.rollback()
    # the winner's branch state is intact; the loser staged nothing
    meta = state.tables[("db", "wapconf")]
    assert meta["refs"]["audit"]["snapshot-id"] == head_after_winner
    assert len(meta["snapshots"]) == 2  # base + winner only


def test_compatibility_toggles(stub, spark, sf_dir, tmp_path):
    """ATTACH compatibility options (reference:
    attach_options/horizon_compatible_writes.test): stage_create_tables
    default, disable_multi_table_commit falls back to one
    CommitTableRequest per table, remove_files_on_delete=false keeps
    rollback from touching storage."""
    import glob as _glob

    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.sources.dml import delete_from
    from tests.conftest import load

    base, state = stub
    cat = RestCatalog(RestCatalogConfig(
        uri=base,
        oauth2=OAuth2Config(server_uri=f"{base}/tokens",
                            client_id="id", client_secret="secret"),
        disable_multi_table_commit=True,
        remove_files_on_delete=False,
    ))
    loc = str(tmp_path / "compat")
    write_iceberg(load(spark, sf_dir, "nation"), loc)
    _register_disk_table(state, loc, name="compat")
    state.plan_response = None

    # multi-table commit path degraded to per-table commits
    txn = cat.transaction()
    t = txn.table("db", "compat")
    delete_from(spark, t, "n_regionkey = 0", mode="merge-on-read")
    txn.commit()
    assert not any(p.endswith("/transactions/commit")
                   for _m, p in state.requests), (
        "disable_multi_table_commit still used /transactions/commit")
    assert len(state.tables[("db", "compat")]["snapshots"]) == 2

    # remove_files_on_delete=false: rollback leaves staged files alone
    txn2 = cat.transaction()
    t2 = txn2.table("db", "compat")
    delete_from(spark, t2, "n_regionkey = 1", mode="merge-on-read")
    before = set(_glob.glob(f"{loc}/**/*", recursive=True))
    txn2.rollback()
    assert set(_glob.glob(f"{loc}/**/*", recursive=True)) == before


def test_commit_table_takes_metadata_from_response(stub):
    """A successful commit rebinds the table from the CommitTableResponse's
    metadata and metadata-location: no GET of the table follows the POST."""
    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    cat.create_table("db", "nore", SCHEMA)
    tbl = cat.load_table("db", "nore")
    n = len(state.requests)
    tbl.commit_table([], [{"action": "set-properties",
                           "updates": {"k": "v"}}])
    after = state.requests[n:]
    assert [m for m, p in after if p.endswith("/tables/nore")] == ["POST"]
    assert not [p for m, p in after if m == "GET"]
    assert tbl.metadata_location == state.metadata_locations[("db", "nore")]
    assert tbl.metadata.properties["k"] == "v"


def test_loaded_table_reports_catalog_metadata_location(stub):
    """A catalog table's metadata_location is the metadata file the
    catalog reported, not the table root — after the load and after a
    commit moved it."""
    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    cat.create_table("db", "mloc", SCHEMA)
    tbl = cat.load_table("db", "mloc")
    assert tbl.metadata.metadata_location == \
        state.metadata_locations[("db", "mloc")]
    assert tbl.metadata_location == tbl.metadata.metadata_location

    tbl.commit_table(
        [{"type": "assert-table-uuid", "uuid": tbl.metadata.table_uuid}],
        [{"action": "set-properties", "updates": {"k": "v"}}])
    moved = state.metadata_locations[("db", "mloc")]
    assert moved.endswith(".metadata.json")
    assert tbl.metadata_location == moved
    assert cat.load_table("db", "mloc").metadata.metadata_location == moved


def test_transaction_stages_data_and_ddl_in_one_commit(stub, spark, sf_dir,
                                                        tmp_path):
    """An append, set_table_properties and add_column on one
    transaction-staged table stay invisible in the catalog until
    commit(), then land together in a single /transactions/commit."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from duckdb_iceberg_spark.sources import ddl
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "txddl")
    region = load(spark, sf_dir, "region")
    write_iceberg(region, loc)
    _register_disk_table(state, loc, name="txddl")
    state.plan_response = None
    cat = _catalog(base)

    txn = cat.transaction()
    t = txn.table("db", "txddl")
    t.append(spark, region.withColumn("r_regionkey",
                                      F.col("r_regionkey") + 10))
    ddl.set_table_properties(t, {"audit.owner": "ops"})
    ddl.add_column(t, "r_extra", "long")
    # staged locally: the handle sees all three, the catalog none
    assert t.metadata.properties["audit.owner"] == "ops"
    assert t.metadata.field_by_name("r_extra") is not None
    meta = state.tables[("db", "txddl")]
    assert len(meta["snapshots"]) == 1
    assert "audit.owner" not in meta.get("properties", {})
    assert len(meta["schemas"]) == 1

    txn.commit()
    posts = [p for m, p in state.requests if m == "POST"]
    assert len([p for p in posts if p.endswith("/transactions/commit")]) == 1
    assert not [p for p in posts if p.endswith("/tables/txddl")]
    meta = state.tables[("db", "txddl")]
    assert len(meta["snapshots"]) == 2
    assert meta["properties"]["audit.owner"] == "ops"
    assert meta["current-schema-id"] == 1
    got = scan_rest_table(spark, cat.load_table("db", "txddl"),
                          server_planning=False)
    assert got.count() == 10 and "r_extra" in got.columns


def test_transaction_create_branch_then_branch_dml(stub, spark, tmp_path):
    """create_branch followed by DML on that branch commits in one
    transaction: the DML's assertion on the branch the transaction just
    created is not sent to the catalog, which has never seen the branch."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from duckdb_iceberg_spark.sources import ddl
    from duckdb_iceberg_spark.sources.dml import delete_from

    base, state = stub
    loc = str(tmp_path / "brtx")
    write_iceberg(spark.createDataFrame(
        [(i, chr(96 + i)) for i in range(1, 6)], "id int, data string"), loc)
    _register_disk_table(state, loc, name="brtx")
    state.plan_response = None
    cat = _catalog(base)
    main_head = state.tables[("db", "brtx")]["current-snapshot-id"]

    txn = cat.transaction()
    t = txn.table("db", "brtx")
    ddl.create_branch(t, "audit")
    delete_from(spark, t, "id = 2", mode="merge-on-read", branch="audit")
    assert "audit" not in (state.tables[("db", "brtx")].get("refs") or {})
    txn.commit()

    meta = state.tables[("db", "brtx")]
    assert meta["current-snapshot-id"] == main_head
    assert meta["refs"]["audit"]["snapshot-id"] != main_head
    tbl = cat.load_table("db", "brtx")
    assert sorted(r.id for r in scan_rest_table(
        spark, tbl, ref="audit", server_planning=False).collect()) == \
        [1, 3, 4, 5]
    assert sorted(r.id for r in scan_rest_table(
        spark, tbl, server_planning=False).collect()) == [1, 2, 3, 4, 5]


def test_transaction_refuses_expire_snapshots(stub, spark, sf_dir, tmp_path):
    """expire_snapshots deletes files as soon as its commit returns, so
    on a transaction-staged table it raises before staging anything and
    no file is deleted."""
    import glob as _glob

    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.sources.maintenance import expire_snapshots
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "exptx")
    region = load(spark, sf_dir, "region")
    for _ in range(3):
        write_iceberg(region, loc)
    _register_disk_table(state, loc, name="exptx")
    state.plan_response = None
    cat = _catalog(base)

    files_before = set(_glob.glob(f"{loc}/**/*", recursive=True))
    txn = cat.transaction()
    t = txn.table("db", "exptx")
    with pytest.raises(ValueError, match="expire_snapshots"):
        expire_snapshots(t, retain_last=1)
    assert set(_glob.glob(f"{loc}/**/*", recursive=True)) == files_before
    assert len(t.metadata.snapshots) == 3
    assert txn.commit() == {}
    assert len(state.tables[("db", "exptx")]["snapshots"]) == 3


def test_transaction_conflicts_on_concurrent_schema_change(stub, spark, sf_dir,
                                                           tmp_path):
    """A schema change another writer commits between staging and commit
    fails the staged add_column's schema assertion: commit() raises
    CommitConflict and the catalog keeps only the winner's change."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.sources import ddl
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "schtx")
    region = load(spark, sf_dir, "region")
    write_iceberg(region, loc)
    _register_disk_table(state, loc, name="schtx")
    state.plan_response = None
    cat = _catalog(base)

    txn = cat.transaction()
    t = txn.table("db", "schtx")
    t.append(spark, region)
    ddl.add_column(t, "mine", "long")
    ddl.add_column(cat.load_table("db", "schtx"), "theirs", "string")

    with pytest.raises(CommitConflict):
        txn.commit()
    txn.rollback()
    meta = state.tables[("db", "schtx")]
    assert len(meta["snapshots"]) == 1
    assert [f["name"] for f in meta["schemas"][-1]["fields"]][-1] == "theirs"


def test_transaction_table_handles_share_staged_state(stub, spark, sf_dir,
                                                      tmp_path):
    """Two txn.table() calls for one table return one handle, so appends
    made through either chain instead of forking from the same base."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "twoh")
    region = load(spark, sf_dir, "region")
    write_iceberg(region, loc)
    _register_disk_table(state, loc, name="twoh")
    state.plan_response = None
    cat = _catalog(base)

    txn = cat.transaction()
    txn.table("db", "twoh").append(spark, region)
    txn.table("db", "twoh").append(spark, region)
    txn.commit()
    assert scan_rest_table(spark, cat.load_table("db", "twoh"),
                           server_planning=False).count() == 15


def test_transaction_rollback_removes_staged_statistics(stub, spark, sf_dir,
                                                        tmp_path):
    """Statistics computed on a transaction-staged table are staged like
    any other update; rollback deletes the statistics file they wrote."""
    from duckdb_iceberg_spark import compute_partition_stats, write_iceberg
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "txstats")
    write_iceberg(load(spark, sf_dir, "nation"), loc,
                  partition_by=["n_regionkey"])
    _register_disk_table(state, loc, name="txstats")
    state.plan_response = None
    cat = _catalog(base)

    txn = cat.transaction()
    out = compute_partition_stats(txn.table("db", "txstats"))
    assert os.path.exists(out["path"])
    assert "partition-statistics" not in state.tables[("db", "txstats")]
    txn.rollback()
    assert not os.path.exists(out["path"])
    assert "partition-statistics" not in state.tables[("db", "txstats")]


def test_remove_orphan_files_keeps_catalog_committed_files(stub, spark, sf_dir,
                                                           tmp_path):
    """Orphan removal on a catalog table counts the snapshots the catalog
    holds, so a file only a catalog commit references is not an orphan."""
    import glob

    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.sources.maintenance import remove_orphan_files
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "orph")
    region = load(spark, sf_dir, "region")
    write_iceberg(region, loc)
    _register_disk_table(state, loc, name="orph")
    state.plan_response = None
    cat = _catalog(base)
    tbl = cat.load_table("db", "orph")

    def _data_files():
        return set(glob.glob(f"{loc}/data/**/*.parquet", recursive=True))

    data_before = _data_files()
    tbl.append(spark, region)
    added = _data_files() - data_before
    assert added

    assert remove_orphan_files(tbl, older_than_ms=0) == []
    assert added <= _data_files()


def test_rest_dml_program_fuzz(stub, spark, tmp_path):
    """Randomized-but-deterministic DML program THROUGH the catalog:
    interleaved append / MoR+CoW delete_where / update_where sequences
    tracked against a Python model. Invariants: the catalog scan matches
    the model after every op, the on-disk metadata log NEVER advances
    (every commit goes over the wire), and the stub's snapshot log grows
    by exactly one per effective commit — fuzzing the data-plane commit
    interactions the example tests pin singly."""
    import random

    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table

    base, state = stub
    loc = str(tmp_path / "t")
    rng = random.Random(421)
    rows = [(i, i % 4, float(i % 7)) for i in range(30)]
    write_iceberg(spark.createDataFrame(rows, "id long, k int, v double"),
                  loc)
    _register_disk_table(state, loc)

    def _disk_versions():
        return sorted(f for f in os.listdir(os.path.join(loc, "metadata"))
                      if f.endswith(".metadata.json"))

    disk0 = _disk_versions()
    cat = _catalog(base)
    tbl = cat.load_table("db", "t")
    state.plan_response = None  # client-side planning

    model = {i: (k, v) for i, k, v in rows}
    next_id = 30
    snaps = len(state.tables[("db", "t")]["snapshots"])

    for _ in range(6):
        op = rng.choice(["append", "delete", "update"])
        if op == "append":
            n = rng.randint(1, 8)
            batch = [(next_id + j, (next_id + j) % 4,
                      float((next_id + j) % 5)) for j in range(n)]
            next_id += n
            tbl.append(spark, spark.createDataFrame(
                batch, "id long, k int, v double"))
            for i, k, v in batch:
                model[i] = (k, v)
            snaps += 1
        elif op == "delete":
            kv = rng.randint(0, 4)
            mode = rng.choice(["merge-on-read", "copy-on-write"])
            would = sum(1 for k, _v in model.values() if k == kv)
            tbl.delete_where(spark, f"k = {kv}", mode=mode)
            model = {i: kv2 for i, kv2 in model.items() if kv2[0] != kv}
            if would:
                snaps += 1
        else:
            kv = rng.randint(0, 4)
            mode = rng.choice(["merge-on-read", "copy-on-write"])
            would = sum(1 for k, _v in model.values() if k == kv)
            tbl.update_where(spark, {"v": "v + 10.0"}, f"k = {kv}",
                             mode=mode)
            model = {i: (k, v + 10.0) if k == kv else (k, v)
                     for i, (k, v) in model.items()}
            if would:
                snaps += 1

        got = sorted(tuple(r) for r in
                     scan_rest_table(spark, tbl, server_planning=False)
                     .select("id", "k", "v").collect())
        assert got == sorted((i, k, v) for i, (k, v) in model.items())
        assert _disk_versions() == disk0, "filesystem metadata log advanced"
        assert len(state.tables[("db", "t")]["snapshots"]) == snaps


def test_view_crud_roundtrip(stub):
    """Iceberg view spec v1 over the REST /views endpoints: create with
    one SQL representation, load, exists, list, rename, drop."""
    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    v = cat.create_view("db", "top_n", "SELECT 1 AS x", dialect="spark")
    assert v.metadata["current-version-id"] == 1
    assert v.sql() == "SELECT 1 AS x"
    assert cat.view_exists("db", "top_n")
    assert not cat.view_exists("db", "nope")
    idents = cat.list_views("db")
    assert [i["name"] for i in idents] == ["top_n"]
    cat.rename_view("db", "top_n", "db", "top_n2")
    assert cat.view_exists("db", "top_n2") and not cat.view_exists("db", "top_n")
    cat.drop_view("db", "top_n2")
    assert not cat.view_exists("db", "top_n2")


def test_view_replace_versions_and_dialect_fallback(stub):
    """CREATE OR REPLACE commits add-view-version +
    set-current-view-version(-1) under assert-view-uuid; version history
    is retained and the dialect lookup falls back to any SQL
    representation when the requested dialect is absent."""
    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    cat.create_view("db", "vv", "SELECT 1 AS x", dialect="trino")
    v2 = cat.replace_view("db", "vv", "SELECT 2 AS x", dialect="spark")
    assert v2.metadata["current-version-id"] == 2
    assert [ver["version-id"] for ver in v2.metadata["versions"]] == [1, 2]
    assert v2.sql("spark") == "SELECT 2 AS x"
    # a dialect no version carries: falls back to the current version's
    # first SQL representation, per the spec's cross-engine contract
    assert v2.sql("duckdb") == "SELECT 2 AS x"
    # the commit carried the optimistic-concurrency requirement and the
    # spec's -1 'last added' sentinel (the stub maps a uuid mismatch to
    # 409, which _request raises as CommitConflict — covered by the
    # table-commit conflict tests)
    commit = state.last_view_commit
    assert commit["requirements"] == [
        {"type": "assert-view-uuid", "uuid": "view-uuid-vv"}]
    assert commit["updates"][-1] == {
        "action": "set-current-view-version", "view-version-id": -1}


def test_view_register_composes_with_spark(stub, spark):
    """A REST view registered into Spark composes with plain SQL."""
    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    spark.range(5).createOrReplaceTempView("rest_view_src")
    cat.create_view(
        "db", "big_ids",
        "SELECT id FROM rest_view_src WHERE id >= 3")
    view = cat.load_view("db", "big_ids").register(spark, "rest_big_ids")
    got = sorted(r["id"] for r in spark.sql(
        f"SELECT * FROM {view}").collect())
    assert got == [3, 4]


def test_attach_catalog_registers_views(stub, spark):
    """attach_catalog surfaces the namespace's Iceberg VIEWS after its
    tables, so a view whose SQL references an attached table queries
    end to end."""
    from duckdb_iceberg_spark.sources.sql import attach_catalog

    base, state = stub
    cat = _catalog(base)
    cat.create_namespace("db")
    spark.range(4).createOrReplaceTempView("attach_view_base")
    cat.create_view("db", "small_ids",
                    "SELECT id FROM attach_view_base WHERE id < 2")
    names = attach_catalog(spark, cat, "db")
    assert "small_ids" in names
    got = sorted(r["id"] for r in spark.sql(
        "SELECT * FROM small_ids").collect())
    assert got == [0, 1]


def test_attach_catalog_prefixed_view_identifier_rewrite(
        stub, spark, sf_dir, tmp_path):
    """With a non-empty view_prefix, a view whose SQL uses the namespace's
    UNPREFIXED table names still queries end to end: attach_catalog binds
    the prefixed objects at their base identifiers just long enough to
    analyze the view SQL, registers the resolved plan under the prefixed
    name, and restores whatever the session already had there."""
    from duckdb_iceberg_spark import attach_catalog, write_iceberg
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    nation = load(spark, sf_dir, "nation")
    write_iceberg(nation, loc)
    _register_disk_table(state, loc, name="nation")
    cat = _catalog(base)
    cat.create_view("db", "early_nations",
                    "SELECT n_name FROM nation WHERE n_nationkey < 3")
    # the session already owns `nation` — the rewrite must not clobber it
    spark.range(7).createOrReplaceTempView("nation")
    try:
        names = attach_catalog(spark, cat, "db", view_prefix="pfx_")
        assert names == ["pfx_nation", "pfx_early_nations"]
        got = {r.n_name for r in
               spark.sql("SELECT * FROM pfx_early_nations").collect()}
        expect = {r.n_name for r in
                  nation.filter("n_nationkey < 3").select("n_name").collect()}
        assert got == expect
        assert spark.table("nation").count() == 7, \
            "session temp view was not restored after the rewrite"
    finally:
        spark.catalog.dropTempView("nation")


def test_attach_catalog_prefixed_view_on_view(stub, spark, sf_dir, tmp_path):
    """A prefixed view whose SQL references ANOTHER namespace view by its
    unprefixed name resolves too — earlier-registered views join the
    temporary unprefixed bindings in registration order."""
    from duckdb_iceberg_spark import attach_catalog, write_iceberg
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    nation = load(spark, sf_dir, "nation")
    write_iceberg(nation, loc)
    _register_disk_table(state, loc, name="nation")
    cat = _catalog(base)
    cat.create_view("db", "a_early",
                    "SELECT n_nationkey, n_name FROM nation "
                    "WHERE n_nationkey < 5")
    cat.create_view("db", "b_top",
                    "SELECT n_name FROM a_early WHERE n_nationkey >= 3")
    names = attach_catalog(spark, cat, "db", view_prefix="vp_")
    assert names == ["vp_nation", "vp_a_early", "vp_b_top"]
    got = {r.n_name for r in spark.sql("SELECT * FROM vp_b_top").collect()}
    expect = {r.n_name for r in
              nation.filter("n_nationkey >= 3 AND n_nationkey < 5")
              .select("n_name").collect()}
    assert got == expect


def test_attach_catalog_prefixed_view_restores_permanent_table(
        stub, spark, sf_dir, tmp_path):
    """When a namespace name collides with a PERMANENT session-catalog
    table (not a temp view), the rewrite's temporary binding must vanish
    afterwards — converting the table into a frozen temp view would
    permanently shadow it."""
    from duckdb_iceberg_spark import attach_catalog, write_iceberg
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    nation = load(spark, sf_dir, "nation")
    write_iceberg(nation, loc)
    _register_disk_table(state, loc, name="nation")
    cat = _catalog(base)
    cat.create_view("db", "v_small",
                    "SELECT n_name FROM nation WHERE n_nationkey = 1")
    spark.sql("DROP TABLE IF EXISTS nation")
    spark.range(3).write.saveAsTable("nation")  # permanent catalog table
    try:
        attach_catalog(spark, cat, "db", view_prefix="pt_")
        got = [r.n_name for r in spark.sql("SELECT * FROM pt_v_small").collect()]
        assert len(got) == 1
        # the permanent table resolves again, and NO temp view shadows it
        temp = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        assert "nation" not in temp, \
            "rewrite left a temp view shadowing the permanent table"
        assert spark.table("nation").count() == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS nation")


def test_attach_catalog_prefixed_view_analysis_error_names_view(
        stub, spark, sf_dir, tmp_path):
    """A view whose SQL references something that exists under neither the
    prefixed nor any session identifier fails ATTACH with the view named —
    never a silently-broken registration."""
    from duckdb_iceberg_spark import attach_catalog, write_iceberg
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    write_iceberg(load(spark, sf_dir, "nation"), loc)
    _register_disk_table(state, loc, name="nation")
    cat = _catalog(base)
    cat.create_view("db", "broken_view",
                    "SELECT x FROM table_that_isnt_there")
    with pytest.raises(ValueError, match="broken_view"):
        attach_catalog(spark, cat, "db", view_prefix="pfx_")


def test_attach_catalog_prefixed_view_stays_fresh_after_dml(
        stub, spark, sf_dir, tmp_path):
    """ADVICE r8: a prefixed view must re-resolve per query like the
    unprefixed path — after execute_sql DML re-registers the table view,
    the prefixed view sees the new snapshot, not a plan frozen at attach
    time. The identifier rewrite therefore registers lazy SQL text
    (base names rewritten to the prefixed names), not an analyzed
    DataFrame."""
    from duckdb_iceberg_spark import attach_catalog, write_iceberg
    from duckdb_iceberg_spark.sources.sql import execute_sql
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t")
    write_iceberg(load(spark, sf_dir, "region"), loc)
    _register_disk_table(state, loc, name="reg")
    state.plan_response = None
    cat = _catalog(base)
    cat.create_view("db", "all_regions", "SELECT r_regionkey FROM reg")
    names = attach_catalog(spark, cat, "db", view_prefix="fz_")
    assert names == ["fz_reg", "fz_all_regions"]
    assert spark.sql("SELECT count(*) c FROM fz_all_regions").first().c == 5
    execute_sql(
        spark,
        "INSERT INTO fz_reg SELECT r_regionkey + 90 AS r_regionkey, "
        "r_name FROM fz_reg")
    assert spark.sql("SELECT count(*) c FROM fz_reg").first().c == 10
    assert spark.sql("SELECT count(*) c FROM fz_all_regions").first().c == 10, \
        "prefixed view served stale data after DML re-registration"


def test_register_existing_table(stub, spark, sf_dir, tmp_path):
    """POST /namespaces/{ns}/register: a filesystem table written by
    write_iceberg registers into the catalog by metadata location (the
    migration path; RegisterTableRequest per
    rest_catalog/objects/register_table_request.cpp) — scans then flow
    through the catalog without moving data."""
    import pytest

    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from duckdb_iceberg_spark.catalog.rest_catalog import CatalogError
    from duckdb_iceberg_spark.metadata.table_metadata import (
        load_table_metadata)
    from tests.conftest import load

    base, state = stub
    state.namespaces[("db",)] = {}
    loc = str(tmp_path / "t")
    reg = load(spark, sf_dir, "region")
    write_iceberg(reg, loc)
    mloc = load_table_metadata(loc).metadata_location

    cat = _catalog(base)
    tbl = cat.register_table("db", "regtab", mloc)
    assert tbl.metadata.metadata_location is None or True  # loaded
    got = scan_rest_table(spark, tbl)
    assert got.count() == reg.count()

    # duplicate register without overwrite: the spec's 409
    with pytest.raises(CatalogError):
        cat.register_table("db", "regtab", mloc)
    # overwrite=True re-registers
    tbl2 = cat.register_table("db", "regtab", mloc, overwrite=True)
    assert scan_rest_table(spark, tbl2).count() == reg.count()


def test_branch_dml_through_catalog(stub, spark, sf_dir, tmp_path):
    """r12 REST branch commits: a MoR delete staged on a branch asserts
    and advances ONLY the branch ref (set-snapshot-ref on 'audit');
    main's head and scan are untouched until a ref publish."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.catalog import scan_rest_table
    from duckdb_iceberg_spark.sources.ddl import fast_forward
    from duckdb_iceberg_spark.sources.dml import delete_from
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t_branch")
    nation = load(spark, sf_dir, "nation")
    write_iceberg(nation, loc)
    _register_disk_table(state, loc, name="brtab")
    cat = _catalog(base)
    tbl = cat.load_table("db", "brtab")
    main_head = tbl.metadata.current_snapshot_id

    delete_from(spark, tbl, "n_nationkey < 5", mode="merge-on-read",
                branch="audit")

    meta = state.tables[("db", "brtab")]
    refs = meta.get("refs", {})
    assert "audit" in refs, "branch ref must exist after the staged DML"
    assert meta["current-snapshot-id"] == main_head, \
        "main must not move on a branch commit"
    tbl = tbl.refresh()
    assert scan_rest_table(spark, tbl).count() == nation.count()
    assert scan_rest_table(spark, tbl, ref="audit").count() == \
        nation.count() - 5

    # publish through the catalog (set-snapshot-ref on main)
    fast_forward(tbl, "main", "audit")
    tbl = tbl.refresh()
    assert scan_rest_table(spark, tbl).count() == nation.count() - 5


def test_changelog_view_rest_table(stub, spark, sf_dir, tmp_path):
    """r14 (VERDICT r13 task 5): CALL create_changelog_view resolves a
    REST catalog table through the attached handle — the procedure was
    the last fs-only one; changelog_scan plans from the same metadata
    either way."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.sources.dml import delete_from
    from duckdb_iceberg_spark.sources.sql import execute_sql, register_table
    from tests.conftest import load

    base, state = stub
    loc = str(tmp_path / "t_chlog_rest")
    write_iceberg(load(spark, sf_dir, "nation"), loc)
    snap1 = load_table_metadata(loc).current_snapshot().snapshot_id
    write_iceberg(spark.createDataFrame(
        [(90, "NEW-A", 1)],
        "n_nationkey long, n_name string, n_regionkey long"), loc)
    delete_from(spark, loc, "n_regionkey = 0", mode="merge-on-read")

    _register_disk_table(state, loc)
    cat = _catalog(base)
    tbl = cat.load_table("db", "t")
    register_table(spark, "chlog_rest_tab", tbl)
    row = execute_sql(
        spark,
        f"CALL create_changelog_view(table => 'chlog_rest_tab', "
        f"changelog_view => 'chlog_rest_v', "
        f"start_snapshot_id => {snap1})").first()
    assert row.changelog_view == "chlog_rest_v"
    got = {(r._change_type, r._change_ordinal): r.cnt for r in spark.sql(
        "SELECT _change_type, _change_ordinal, count(*) cnt "
        "FROM chlog_rest_v GROUP BY 1, 2").collect()}
    assert got[("insert", 0)] == 1
    assert got[("delete", 1)] == 5  # 5 nations in region 0
