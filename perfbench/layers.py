"""Per-layer numbers of one traced op, and their per-op summary.

Every ``*_s`` layer metric is self time: the duration of the layer's spans
minus the time their child spans cover, so the layer times of an op add up
to the traced part of its wall time."""

from __future__ import annotations

import os
from collections import defaultdict

from .tracing import Span

PLANNERS = ("plan_scan", "plan_scan_distributed")
MANIFEST_READS = ("read_manifest", "read_manifest_list")
METADATA_READS = ("load_table_metadata", "read_manifest",
                  "read_manifest_list", "read_avro_file")
METADATA_WRITES = ("write_table_metadata", "write_manifest",
                   "write_manifest_list")
DML = ("delete_from", "update_iceberg", "merge_into")
REWRITES = ("rewrite_data_files", "rewrite_position_delete_files")


def _outermost(spans: list[Span], names) -> list[Span]:
    """Spans named in ``names`` that have no ancestor named in ``names``."""
    names = set(names)
    return [s for s in spans if s.name in names
            and not any(p.name in names for p in s.ancestors())]


def _files_considered(span: Span) -> tuple[int, int]:
    """(files considered, files pruned) of one outermost plan.

    The distributed planner prunes files on executors and reports
    ``files_pruned`` as 0, so for its plans the files considered come from
    the manifest-list counts of the data manifests that survive manifest
    pruning."""
    plan = span.result
    stats = plan.stats
    if "distributed_manifests" not in stats:
        return stats["files_total"], stats["files_pruned"]
    from duckdb_iceberg_spark.metadata import manifest as mf
    from duckdb_iceberg_spark.plans import predicates as P
    from duckdb_iceberg_spark.plans.scan_plan import (
        _localize,
        _manifest_matches,
    )

    tm, snap = span.args[1], span.args[2]
    where = span.args[3] if len(span.args) > 3 else span.kwargs.get("where")
    pred = P.parse_where(where)
    considered = 0
    for m in mf.read_manifest_list(_localize(tm, snap.manifest_list)):
        if m.content == mf.MANIFEST_DATA and _manifest_matches(m, tm, pred):
            considered += m.added_files_count + m.existing_files_count
    return considered, considered - len(plan.tasks)


def op_layers(rec: dict) -> dict:
    """Reduce one traced op's spans to counts and seconds. Runs with the
    tracer inactive, so the reads it makes are not counted."""
    spans: list[Span] = rec["spans"]
    by = defaultdict(list)
    for s in spans:
        by[s.name].append(s)
    out = {k: rec[k] for k in ("kind", "wall", "py4j", "gc_s", "jobs",
                               "stages", "tasks", "executor_run_s",
                               "shuffle_write_mb")}
    out["covered_s"] = sum(s.dur for s in spans if s.parent is None)

    def self_s(names=(), layer=None) -> float:
        return sum(s.self_s for s in spans
                   if s.name in names or s.layer == layer)

    out["load_s"] = self_s(METADATA_READS)
    reads = [s for n in MANIFEST_READS for s in by[n]]
    decodes = [s for s in by["read_avro_file"]
               if any(s.inside(n) for n in MANIFEST_READS)]
    out["manifest_reads"] = len(reads)
    out["manifest_decodes"] = len(decodes)
    out["entries_decoded"] = sum(len(s.result[2]) for s in decodes)
    out["metadata_write_s"] = self_s(METADATA_WRITES)
    out["manifests_written"] = len(by["write_manifest"])
    out["metadata_json_bytes"] = [os.path.getsize(s.result)
                                  for s in by["write_table_metadata"]]

    plans = _outermost(spans, PLANNERS)
    out["plan_s"] = self_s(PLANNERS)
    out["plans"] = len(plans)
    out["plans_distributed"] = sum(
        "distributed_manifests" in s.result.stats for s in plans)
    out["manifests_total"] = sum(s.result.stats["manifests_total"]
                                 for s in plans)
    out["manifests_pruned"] = sum(s.result.stats["manifests_pruned"]
                                  for s in plans)
    considered = [_files_considered(s) for s in plans]
    out["files_considered"] = sum(c for c, _ in considered)
    out["files_pruned"] = sum(p for _, p in considered)
    out["plan_tasks"] = sum(len(s.result.tasks) for s in plans)
    out["plan_delete_files"] = sum(s.result.stats["delete_files"]
                                   for s in plans)

    constructs = _outermost(spans, ["scan_to_dataframe"])
    out["construct_s"] = self_s(layer="scan")
    out["constructs"] = len(constructs)
    out["construct_py4j"] = sum(s.py4j for s in constructs)
    scans = by["iceberg_scan"]
    out["iceberg_scans"] = len(scans)
    planned = {id(a) for n in PLANNERS for p in by[n] for a in p.ancestors()}
    out["memo_hits"] = sum(id(s) not in planned for s in scans)

    out["action_s"] = self_s(layer="exec")

    writes = _outermost(spans, ["write_data_files"])
    out["write_s"] = self_s(layer="writer")
    out["writes"] = len(writes)
    files = [f for s in writes for f in s.result[0]]
    out["files_written"] = len(files)
    out["bytes_written"] = sum(f.file_size_in_bytes for f in files)
    out["rows_written"] = sum(f.record_count for f in files)

    commits = _outermost(spans, ["commit_snapshot"])
    out["commit_s"] = self_s(layer="commit")
    out["commits"] = len(commits)
    out["build_attempts"] = len(by["_build_snapshot"])
    out["manifest_merges"] = sum(len(s.result) < len(s.args[1])
                                 for s in by["_merge_small_manifests"])

    dml = _outermost(spans, DML)
    out["dml_ops"] = len(dml)
    out["dml_delete_files"] = sum(
        int(c.result.summary.get("added-delete-files", 0))
        for c in commits if any(c.inside(n) for n in DML))

    rewrites = _outermost(spans, REWRITES)
    out["rewrite_s"] = self_s(REWRITES)
    out["files_rewritten"] = sum(
        s.result.get("rewritten_data_files_count", 0)
        + s.result.get("rewritten_delete_files_count", 0) for s in rewrites)
    out["bytes_rewritten"] = sum(s.result.get("rewritten_bytes_count", 0)
                                 for s in rewrites)
    expires = by["expire_snapshots"]
    out["expire_s"] = self_s(["expire_snapshots"])
    out["files_expired"] = sum(s.result.get("deleted_files", 0)
                               for s in expires)
    return out


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def summarize(ops: list[dict], table: dict) -> dict:
    """Per-op averages over the traced ops (ratios are ratios of totals)."""
    n = len(ops) or 1
    tot = defaultdict(float)
    json_sizes: list[int] = []
    for o in ops:
        for k, v in o.items():
            if k == "metadata_json_bytes":
                json_sizes.extend(v)
            elif k != "kind":
                tot[k] += v
    return {
        "metadata.load_s": tot["load_s"] / n,
        "metadata.manifest_reads": tot["manifest_reads"] / n,
        "metadata.manifest_decodes": tot["manifest_decodes"] / n,
        "metadata.manifest_cache_hit_ratio": (
            1 - _ratio(tot["manifest_decodes"], tot["manifest_reads"])
            if tot["manifest_reads"] else 0.0),
        "metadata.entries_decoded": tot["entries_decoded"] / n,
        "metadata.write_s": tot["metadata_write_s"] / n,
        "metadata.manifests_written": tot["manifests_written"] / n,
        "metadata.metadata_json_bytes": _ratio(sum(json_sizes),
                                               len(json_sizes)),
        "plans.plan_s": tot["plan_s"] / n,
        "plans.distributed_share": _ratio(tot["plans_distributed"],
                                          tot["plans"]),
        "plans.manifests_pruned_ratio": _ratio(tot["manifests_pruned"],
                                               tot["manifests_total"]),
        "plans.files_pruned_ratio": _ratio(tot["files_pruned"],
                                           tot["files_considered"]),
        "plans.tasks_per_plan": _ratio(tot["plan_tasks"], tot["plans"]),
        "plans.delete_files_per_plan": _ratio(tot["plan_delete_files"],
                                              tot["plans"]),
        "scan.construct_s": tot["construct_s"] / n,
        "scan.memo_hit_ratio": _ratio(tot["memo_hits"], tot["iceberg_scans"]),
        "scan.py4j_calls_per_construct": _ratio(tot["construct_py4j"],
                                                tot["constructs"]),
        "py4j.calls_per_op": tot["py4j"] / n,
        "exec.action_s": tot["action_s"] / n,
        "exec.jobs_per_op": tot["jobs"] / n,
        "exec.stages_per_op": tot["stages"] / n,
        "exec.tasks_per_op": tot["tasks"] / n,
        "exec.executor_run_s": tot["executor_run_s"] / n,
        "exec.shuffle_write_mb": tot["shuffle_write_mb"] / n,
        "writer.write_s": tot["write_s"] / n,
        "writer.files_per_write": _ratio(tot["files_written"], tot["writes"]),
        "writer.bytes_per_row_written": _ratio(tot["bytes_written"],
                                               tot["rows_written"]),
        "commit.commit_s": tot["commit_s"] / n,
        "commit.manifest_merges": tot["manifest_merges"] / n,
        "commit.attempts": _ratio(tot["build_attempts"], tot["commits"]),
        "dml.delete_files_per_op": _ratio(tot["dml_delete_files"],
                                          tot["dml_ops"]),
        "maint.rewrite_s": tot["rewrite_s"] / n,
        "maint.files_rewritten": tot["files_rewritten"] / n,
        "maint.bytes_rewritten": tot["bytes_rewritten"] / n,
        "maint.expire_s": tot["expire_s"] / n,
        "maint.files_expired": tot["files_expired"] / n,
        **{f"table.{k}": v for k, v in table.items()},
        "driver.py_gc_s": tot["gc_s"] / n,
        "trace.coverage": _ratio(tot["covered_s"], tot["wall"]),
    }
