"""Metadata-plane stress benchmark (r13, VERDICT r12 task 7): planner
wall-clock + peak memory at many-file scale — 10^5 manifest entries,
METADATA ONLY (no data bytes ever written). Models the reference's
``benchmark/metadata_late_materialization/`` (256 manifests, one per
partition, where a selective query must parse exactly ONE manifest) at
~100x the entry count, and turns the plan-shape pins of
tests/test_reference_pruning_shapes.py into wall-clock numbers the
bench artifact can regress against.

Synthetic table: 200 identity-partitioned manifests x 500 entries each
(100,000 DataFile records, 4096 rows claimed apiece), fake file paths —
planning never opens data files, so none are needed. Cached in /tmp per
code fingerprint (authoring writes ~100k avro records driver-side).

Measured (all driver-side; the planner IS driver-side by design — its
output is an O(#files) task list the executors then scan):
- list_sec           parse the manifest list (200 entries)
- full_plan_sec      plan with no predicate: parses all 200 manifests
- full_plan_gc_s     of which time in the cyclic garbage collector
                     (measured through ``gc.callbacks``)
- full_plan_peak_mb  tracemalloc peak during the full plan
- selective_plan_sec plan WHERE partition_id = 199: manifest-list
                     partition summaries must prune 199 of 200
                     manifests BEFORE parsing them
- count_star_sec     exact count(*) off manifest-list stats alone

Invariants asserted every run (a fast-but-wrong planner fails loudly):
full plan yields 100,000 tasks; the selective plan parses exactly 1
manifest (stats["manifests_pruned"] == 199) and yields 500 tasks; the
metadata count equals 200 * 500 * 4096.

Standalone: ``python tools/bench_metadata.py`` (prints one JSON line).
From bench.py: ``run()`` returns the dict for the ``metadata_plane``
block of the artifact.
"""

from __future__ import annotations

import gc
import json
import os
import struct
import sys
import time
import tracemalloc

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_MANIFESTS = 200
ENTRIES_PER_MANIFEST = 500
ROWS_PER_FILE = 4096

# r15 (VERDICT r14 task 2): the 100 TB shape — a table at 512 MB files
# is ~2e5-1e6 manifest entries; this block pins the driver's task-list
# memory ceiling (the O(#entries) materialization) at that scale
N_MANIFESTS_LARGE = 1000
ENTRIES_PER_MANIFEST_LARGE = 1000
LARGE_PEAK_BUDGET_MB = 1536


def _fingerprint() -> str:
    """Hash of the metadata-AUTHORING code only (r15): the synthetic
    table's bytes depend on the manifest/metadata writers, not on query
    entries or operators — the full-package fingerprint forced a ~100s
    1e6-entry rebuild on every unrelated edit."""
    import hashlib

    import duckdb_iceberg_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    deps = [
        os.path.join(root, "metadata", "manifest.py"),
        os.path.join(root, "metadata", "table_metadata.py"),
        os.path.join(root, "metadata", "avro_io.py"),
        os.path.join(root, "metadata", "types.py"),
        os.path.join(root, "sources", "writer.py"),
        os.path.abspath(__file__),
    ]
    h = hashlib.md5()
    for p in sorted(deps):
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def build_table(base_dir: str | None = None,
                n_manifests: int | None = None,
                entries_per_manifest: int | None = None) -> str:
    """Author the synthetic table once per code fingerprint; return its
    location. Pure driver-side metadata authoring through the package's
    own manifest writer — the same code path real commits use."""
    # resolve at CALL time so tests can monkeypatch the module globals
    if n_manifests is None:
        n_manifests = N_MANIFESTS
    if entries_per_manifest is None:
        entries_per_manifest = ENTRIES_PER_MANIFEST
    from pyspark.sql import types as T

    from duckdb_iceberg_spark.metadata import manifest as mf
    from duckdb_iceberg_spark.metadata.table_metadata import (
        Snapshot,
        write_table_metadata,
    )
    from duckdb_iceberg_spark.sources.writer import create_table

    base = base_dir or "/tmp/spark_graft_meta_bench"
    loc = os.path.join(
        base,
        f"m{n_manifests}x{entries_per_manifest}-{_fingerprint()}")
    done = os.path.join(loc, "_DONE")
    if os.path.exists(done):
        return loc

    import fcntl
    import shutil

    os.makedirs(base, exist_ok=True)
    lock = open(loc + ".lock", "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    try:
        if os.path.exists(done):
            return loc
        shutil.rmtree(loc, ignore_errors=True)
        schema = T.StructType([
            T.StructField("partition_id", T.IntegerType()),
            T.StructField("payload", T.LongType()),
        ])
        tm = create_table(loc, schema, partition_by=["partition_id"])
        spec = tm.default_spec()
        snap_id = 1
        meta_dir = os.path.join(loc, "metadata")
        manifests = []
        for p in range(n_manifests):
            entries = []
            for i in range(entries_per_manifest):
                lo = p * 10_000 + i
                df = mf.DataFile(
                    content=mf.CONTENT_DATA,
                    file_path=f"{loc}/data/p{p}/f{i}.parquet",
                    file_format="PARQUET",
                    partition={"partition_id": p},
                    record_count=ROWS_PER_FILE,
                    file_size_in_bytes=64 * 1024,
                    value_counts={1: ROWS_PER_FILE, 2: ROWS_PER_FILE},
                    null_value_counts={1: 0, 2: 0},
                    lower_bounds={1: struct.pack("<i", p),
                                  2: struct.pack("<q", lo)},
                    upper_bounds={1: struct.pack("<i", p),
                                  2: struct.pack("<q", lo + ROWS_PER_FILE)},
                )
                entries.append(mf.ManifestEntry(
                    status=mf.STATUS_ADDED, snapshot_id=snap_id,
                    sequence_number=1, file_sequence_number=1,
                    data_file=df))
            m = mf.write_manifest(
                os.path.join(meta_dir, f"man-{p}.avro"),
                entries, tm, spec, mf.MANIFEST_DATA)
            m.added_snapshot_id = snap_id
            manifests.append(m)
        ml_path = os.path.join(meta_dir, "snap-1.avro")
        mf.write_manifest_list(ml_path, manifests, snap_id, None, 1,
                               tm.format_version)
        total = n_manifests * entries_per_manifest * ROWS_PER_FILE
        snap = Snapshot(
            snapshot_id=snap_id, timestamp_ms=int(time.time() * 1000),
            manifest_list=ml_path, sequence_number=1,
            summary={"operation": "append",
                     "added-data-files":
                         str(n_manifests * entries_per_manifest),
                     "added-records": str(total),
                     "total-records": str(total),
                     "total-data-files":
                         str(n_manifests * entries_per_manifest)},
            schema_id=tm.current_schema_id)
        tm.snapshots.append(snap)
        tm.current_snapshot_id = snap_id
        tm.last_sequence_number = 1
        tm.snapshot_log.append({"timestamp-ms": snap.timestamp_ms,
                                "snapshot-id": snap_id})
        tm.refs["main"] = {"snapshot-id": snap_id, "type": "branch"}
        write_table_metadata(tm, loc)
        with open(done, "w") as fh:
            fh.write(_fingerprint())
        return loc
    finally:
        fcntl.flock(lock, fcntl.LOCK_UN)
        lock.close()


class _GcTimer:
    """Seconds the cyclic garbage collector ran inside the ``with`` block,
    summed from ``gc.callbacks`` start/stop events."""

    def __init__(self):
        self.seconds = 0.0
        self._t0 = 0.0

    def _on_gc(self, phase, info):
        if phase == "start":
            self._t0 = time.perf_counter()
        else:
            self.seconds += time.perf_counter() - self._t0

    def __enter__(self):
        gc.callbacks.append(self._on_gc)
        return self

    def __exit__(self, *exc):
        gc.callbacks.remove(self._on_gc)


def run(base_dir: str | None = None) -> dict:
    from duckdb_iceberg_spark.metadata import manifest as mf
    from duckdb_iceberg_spark.metadata.table_metadata import (
        load_table_metadata,
    )
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from duckdb_iceberg_spark.sources.scan import iceberg_count

    t0 = time.time()
    loc = build_table(base_dir)
    build_s = time.time() - t0

    tm = load_table_metadata(loc)
    snap = tm.select_snapshot()

    def _cold():
        # the manifest LRU would otherwise make every phase after the
        # first measure cache lookups, not parsing
        mf.clear_manifest_cache()

    t0 = time.time()
    ml = mf.read_manifest_list(snap.manifest_list)
    list_s = time.time() - t0
    assert len(ml) == N_MANIFESTS

    # selective plan FIRST (cold): manifest-list partition summaries
    # prune 199/200 manifests before their avro bytes are ever read
    _cold()
    t0 = time.time()
    sel = plan_scan(tm, snap, where=f"partition_id = {N_MANIFESTS - 1}")
    sel_s = time.time() - t0
    assert sel.stats["manifests_pruned"] == N_MANIFESTS - 1, sel.stats
    assert len(sel.tasks) == ENTRIES_PER_MANIFEST, len(sel.tasks)

    # full cold plan: every manifest parses
    _cold()
    with _GcTimer() as full_gc:
        t0 = time.time()
        full = plan_scan(tm, snap)
        full_s = time.time() - t0
    assert len(full.tasks) == N_MANIFESTS * ENTRIES_PER_MANIFEST, \
        len(full.tasks)

    # warm re-plan: manifests cached, measures pruning + task
    # materialization alone (the repeated-query shape)
    t0 = time.time()
    plan_scan(tm, snap)
    warm_s = time.time() - t0

    # peak memory of a COLD full plan, tracked separately (tracemalloc
    # roughly 4x-es pure-Python wall-clock, so it never shares a
    # measurement with the timings above)
    _cold()
    tracemalloc.start()
    plan_scan(tm, snap)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()

    # exact count(*) from manifest-list stats alone (no manifest parse)
    t0 = time.time()
    n = iceberg_count(loc)
    count_s = time.time() - t0
    assert n == N_MANIFESTS * ENTRIES_PER_MANIFEST * ROWS_PER_FILE, n

    return {
        "manifests": N_MANIFESTS,
        "entries": N_MANIFESTS * ENTRIES_PER_MANIFEST,
        "build_sec": round(build_s, 3),
        "list_sec": round(list_s, 3),
        "full_plan_sec": round(full_s, 3),
        "full_plan_gc_s": round(full_gc.seconds, 3),
        "warm_plan_sec": round(warm_s, 3),
        "full_plan_peak_mb": round(peak / (1024 * 1024), 1),
        "selective_plan_sec": round(sel_s, 3),
        "selective_manifests_parsed":
            N_MANIFESTS - sel.stats["manifests_pruned"],
        "count_star_sec": round(count_s, 3),
    }


def run_large(spark, base_dir: str | None = None) -> dict:
    """The 1e6-entry block (r15 — VERDICT r14 task 2): 1000 manifests x
    1000 entries. The full plan runs through plan_scan_distributed with
    LEAN task emission — manifests parse + file-prune on executors, the
    strip happens there too, and the driver retains only read-relevant
    task fields. Measured/asserted:

    - selective_plan_sec  driver path, manifest-list summaries prune
                          999/1000 before any manifest parse
    - full_plan_sec       distributed lean plan, all 1e6 tasks
    - full_plan_peak_mb   tracemalloc peak of a second distributed plan
                          (driver-side allocations — the ceiling VERDICT
                          r14 named); ASSERTED < LARGE_PEAK_BUDGET_MB
    - count_star_sec      exact count(*) off manifest-list stats

    Invariants: full plan yields exactly 1e6 tasks; the selective plan
    parses ONE manifest and yields 1000 tasks; the metadata count is
    exact; peak under budget."""
    from duckdb_iceberg_spark.metadata import manifest as mf
    from duckdb_iceberg_spark.metadata.table_metadata import (
        load_table_metadata,
    )
    from duckdb_iceberg_spark.plans.distributed_planner import (
        plan_scan_distributed,
    )
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from duckdb_iceberg_spark.sources.scan import iceberg_count

    nm, epm = N_MANIFESTS_LARGE, ENTRIES_PER_MANIFEST_LARGE
    t0 = time.time()
    loc = build_table(base_dir, n_manifests=nm, entries_per_manifest=epm)
    build_s = time.time() - t0

    tm = load_table_metadata(loc)
    snap = tm.select_snapshot()

    def _cold():
        mf.clear_manifest_cache()

    # selective plan (driver path): 999/1000 manifests pruned from the
    # manifest-list partition summaries alone
    _cold()
    t0 = time.time()
    sel = plan_scan(tm, snap, where=f"partition_id = {nm - 1}")
    sel_s = time.time() - t0
    assert sel.stats["manifests_pruned"] == nm - 1, sel.stats
    assert len(sel.tasks) == epm, len(sel.tasks)

    # distributed lean full plan: every manifest parses ON EXECUTORS
    _cold()
    t0 = time.time()
    full = plan_scan_distributed(spark, tm, snap, lean=True)
    full_s = time.time() - t0
    assert len(full.tasks) == nm * epm, len(full.tasks)
    assert full.stats.get("distributed_manifests") == nm, full.stats
    # lean tasks really are lean
    t = full.tasks[0]
    assert t.data_file.lower_bounds is None \
        and t.data_file.value_counts is None
    assert t.data_file.record_count == ROWS_PER_FILE

    # driver-side peak of the same distributed plan (tracemalloc slows
    # the measured pass; never shares a timing measurement)
    _cold()
    tracemalloc.start()
    plan_scan_distributed(spark, tm, snap, lean=True)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    peak_mb = peak / (1024 * 1024)
    assert peak_mb < LARGE_PEAK_BUDGET_MB, \
        f"1e6-entry driver peak {peak_mb:.0f} MB >= " \
        f"{LARGE_PEAK_BUDGET_MB} MB budget"

    t0 = time.time()
    n = iceberg_count(loc)
    count_s = time.time() - t0
    assert n == nm * epm * ROWS_PER_FILE, n

    return {
        "manifests": nm,
        "entries": nm * epm,
        "build_sec": round(build_s, 3),
        "selective_plan_sec": round(sel_s, 3),
        "selective_manifests_parsed": nm - sel.stats["manifests_pruned"],
        "full_plan_sec": round(full_s, 3),
        "full_plan_peak_mb": round(peak_mb, 1),
        "peak_budget_mb": LARGE_PEAK_BUDGET_MB,
        "count_star_sec": round(count_s, 3),
    }


if __name__ == "__main__":
    print(json.dumps({"metric": "metadata-plane planning at 1e5 entries",
                      **run()}))
    if "--large" in sys.argv:
        from duckdb_iceberg_spark.session import get_spark

        spark = get_spark()
        print(json.dumps({
            "metric": "metadata-plane planning at 1e6 entries",
            **run_large(spark)}))
