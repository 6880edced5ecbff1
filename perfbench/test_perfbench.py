"""Self-test of the benchmark at a tiny size.

Run from the root of a checkout: ``python3 -m pytest -q perfbench``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    # a blank in the path: Spark splits JVM options on blanks
    work = str(tmp_path_factory.mktemp("perf bench"))
    harness.prepare_env(ROOT, work)
    session = harness.start_session(work)
    yield session, work
    harness.stop_session(session)


def _tiny_ingest(session):
    from perfbench.ingest_dml import IngestDml

    return IngestDml(session, seed=3, seconds=1, rows_per_append=200)


def _tiny_plan(session):
    from perfbench.plan_large import PlanLarge

    # 80 manifests: the 72-wide shape plans on executors, the 8-wide one
    # on the driver
    return PlanLarge(session, seed=3, seconds=1, manifests=80, entries=3,
                     widths=(8, 72, 8))


def _units(result):
    return {k: v["unit"] for k, v in result["metrics"].items()}


def _send_command():
    from py4j.clientserver import ClientServerConnection

    return ClientServerConnection.send_command


def test_benchmark_json_matches_the_emitted_metrics():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} \
        == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} \
        == harness.PER_LAYER
    assert [w["name"] for w in BENCH["workloads"]] \
        == ["ingest_dml", "plan_large"]


def test_untimed_wrappers_absent_and_end_to_end_metrics_emitted(spark):
    session, work = spark
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from duckdb_iceberg_spark.sources import dml

    original = _send_command()
    wl = _tiny_ingest(session)
    seen = []
    run_op = wl.run_op

    def checked(op):
        seen.append(_send_command() is original
                    and dml.plan_scan is plan_scan)
        return run_op(op)

    wl.run_op = checked
    result = harness.run_workload(wl, session, work, trace=False)
    assert seen and all(seen)
    assert result["correct"], result
    assert result["failed"] == 0
    assert _units(result) == harness.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_emits_every_per_layer_metric(spark):
    session, work = spark
    original = _send_command()
    wl = _tiny_ingest(session)
    result = harness.run_workload(wl, session, work, trace=True)
    assert _send_command() is original  # wrappers removed afterwards
    assert result["correct"], result
    assert _units(result) == harness.PER_LAYER
    m = {k: v["value"] for k, v in result["metrics"].items()}
    # the layers entered through module-level imports are traced
    assert m["writer.files_per_write"] > 0
    assert m["commit.attempts"] == 1
    assert m["dml.delete_files_per_op"] > 0
    assert m["scan.construct_s"] > 0
    assert m["exec.jobs_per_op"] > 0
    assert m["py4j.calls_per_op"] > 0
    assert 0 < m["trace.coverage"] <= 1


def test_distributed_plans_report_pruned_files(spark):
    session, work = spark
    wl = _tiny_plan(session)
    result = harness.run_workload(wl, session, work, trace=True)
    assert result["correct"], result
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert 0 < m["plans.distributed_share"] < 1
    assert m["plans.manifests_pruned_ratio"] > 0
    assert m["plans.tasks_per_plan"] > 0


def test_corrupted_expected_value_counts_as_failed_ops(spark):
    session, work = spark
    wl = _tiny_plan(session)
    wl.expected = lambda op: (-1, -1)
    result = harness.run_workload(wl, session, work, trace=False)
    assert not result["correct"]
    # every op fails its check; the end-state check has nothing to compare
    assert result["failed"] == result["attempted"] - 1
    assert _units(result) == harness.END_TO_END
