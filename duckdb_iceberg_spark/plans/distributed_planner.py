"""Scan planning for many-manifest tables.

The reference's answer to snapshots with thousands of manifests is lazy
per-manifest batches (``iceberg_multi_file_list.cpp:437-498``; benchmarks
``benchmark/metadata_late_materialization/``). Here the Spark-native
answer: manifest pruning stays on the driver (the manifest LIST is one
small Avro file holding the partition summaries), then the surviving data
manifests are read and file-pruned in parallel on executors — each task
decodes its manifests with the pure-Python Avro reader, applies the same
bound file filter and ships back only the surviving entries, one pickled
blob per manifest. The pipeline is the driver planner's own
(``scan_plan._plan_scan``), given a Spark session."""

from __future__ import annotations

from typing import Optional

from pyspark.sql import SparkSession

from ..metadata import types as ice_types
from ..metadata.table_metadata import Snapshot, TableMetadata
from .scan_plan import ScanPlan, _plan_scan


def plan_scan_distributed(
    spark: SparkSession,
    tm: TableMetadata,
    snapshot: Optional[Snapshot],
    where: str | None = None,
    *,
    manifest_threshold: Optional[int] = None,
    snapshot_schema: bool | None = None,
    lean: bool = False,
) -> ScanPlan:
    """Like ``plan_scan``, but the data manifests are read and
    file-pruned on executors once more than ``manifest_threshold``
    (default ``fanout.DRIVER_MAX``) survive manifest pruning.

    ``lean=True`` strips per-column stat maps from surviving entries ON
    THE EXECUTOR, before they are pickled back: the driver's task list
    then carries only read-relevant fields (~3x smaller at 1e6 entries),
    and the collect ships ~3x fewer bytes. Pruning still sees full
    stats — the strip happens after file pruning."""
    with ice_types.pinned_time_flag():
        return _plan_scan(tm, snapshot, where, spark=spark,
                          manifest_threshold=manifest_threshold,
                          snapshot_schema=snapshot_schema, lean=lean)
