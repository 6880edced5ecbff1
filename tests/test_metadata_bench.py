"""Metadata-plane stress harness (r13, VERDICT r12 task 7) at test
scale: the synthetic-manifest builder + planner invariants that
tools/bench_metadata.py asserts at 1e5 entries, shrunk to 20x50 so the
suite stays fast. Wall-clock is NOT asserted here (shared box) — the
bench artifact's metadata_plane block carries the regression numbers."""

import pytest


@pytest.fixture()
def small_scale(monkeypatch, tmp_path):
    from tools import bench_metadata as bm

    monkeypatch.setattr(bm, "N_MANIFESTS", 20)
    monkeypatch.setattr(bm, "ENTRIES_PER_MANIFEST", 50)
    return bm, str(tmp_path / "meta_bench")


def test_metadata_bench_invariants(small_scale):
    bm, base = small_scale
    out = bm.run(base_dir=base)
    assert out["manifests"] == 20
    assert out["entries"] == 1000
    # pruning invariant (asserted inside run() too): the selective plan
    # parsed exactly one manifest
    assert out["selective_manifests_parsed"] == 1
    assert out["full_plan_sec"] >= 0 and out["full_plan_peak_mb"] > 0
    assert 0 <= out["full_plan_gc_s"] <= out["full_plan_sec"]


def test_metadata_bench_planner_details(small_scale):
    """The synthetic table behaves like a real one: file-level zone maps
    prune within the surviving manifest, and the planner never stats the
    (nonexistent) data files."""
    from duckdb_iceberg_spark.metadata.table_metadata import (
        load_table_metadata,
    )
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan

    bm, base = small_scale
    loc = bm.build_table(base_dir=base)
    tm = load_table_metadata(loc)
    snap = tm.select_snapshot()

    # one partition AND a payload bound: manifest pruning (19/20) plus
    # file-level stats pruning inside the survivor
    sel = plan_scan(tm, snap,
                    where="partition_id = 3 AND payload < 30005")
    assert sel.stats["manifests_pruned"] == 19
    # files in partition 3 have payload lower bounds 30000..30049 — the
    # < 30005 predicate keeps only the first 5 files' ranges
    assert 0 < len(sel.tasks) < 50
    # every task points at the RECORDED (nonexistent) path — planning
    # never probed the filesystem for data files
    assert all(t.data_file.file_path.endswith(".parquet")
               for t in sel.tasks)
