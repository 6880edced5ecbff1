"""plan_large: the metadata path on a many-manifest, metadata-only table.

The table is authored through the package's own manifest writer
(``write_manifest``/``write_manifest_list``, then ``write_table_metadata``)
with fake data paths: one manifest per identity partition, more manifests
than the 256-file bound of the driver's manifest cache. Each op calls
``load_table_metadata`` and then ``plan_scan_distributed`` (the planner
``iceberg_scan`` uses) under a partition-range predicate. Widths are a few
fixed shapes on both sides of the planner's 64-manifest driver/executor
threshold, each repeated every round.

Windows advance a cursor around the partition ring (a window that passes
the last partition wraps to the first), so every seed sees the same cache
reuse pattern, rotated.
"""

from __future__ import annotations

import os
import random
import struct

from duckdb_iceberg_spark.metadata import manifest as mf
from duckdb_iceberg_spark.metadata.table_metadata import (
    Snapshot,
    load_table_metadata,
    write_table_metadata,
)
from duckdb_iceberg_spark.plans.distributed_planner import (
    plan_scan_distributed,
)
from duckdb_iceberg_spark.sources.writer import create_table

from .harness import Op

ROWS_PER_FILE = 4096
#: one round of shapes, as manifest widths
ROUND = (16, 48, 128, 320)
#: measured cost of one round on 4 cores; turns --seconds into a fixed
#: round count, so op k is the same op on every run of a seed
NOMINAL_ROUND_S = 3.0


class PlanLarge:
    def __init__(self, spark, seed: int, seconds: float,
                 manifests: int = 400, entries: int = 40,
                 widths: tuple[int, ...] = ROUND):
        self.spark = spark
        self.manifests = manifests
        self.entries = entries
        self.rounds = max(1, round(seconds / NOMINAL_ROUND_S))
        self.loc = None
        rng = random.Random(seed)
        cursor = rng.randrange(manifests)

        def window(w: int) -> Op:
            nonlocal cursor
            op = Op(f"w{w}", (w, cursor))
            cursor = (cursor + w) % manifests
            return op

        self._warmup = [window(w) for w in sorted(set(widths))]
        self._timed = [window(w) for _ in range(self.rounds) for w in widths]

    def warmup_ops(self) -> list[Op]:
        return self._warmup

    def timed_ops(self) -> list[Op]:
        return self._timed

    def build(self, loc: str) -> None:
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("partition_id", T.IntegerType()),
            T.StructField("payload", T.LongType()),
        ])
        tm = create_table(loc, schema, partition_by=["partition_id"])
        spec = tm.default_spec()
        meta_dir = os.path.join(loc, "metadata")
        written = []
        for p in range(self.manifests):
            entries = []
            for i in range(self.entries):
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
                                  2: struct.pack("<q", lo + ROWS_PER_FILE)})
                entries.append(mf.ManifestEntry(
                    status=mf.STATUS_ADDED, snapshot_id=1, sequence_number=1,
                    file_sequence_number=1, data_file=df))
            m = mf.write_manifest(os.path.join(meta_dir, f"man-{p}.avro"),
                                  entries, tm, spec, mf.MANIFEST_DATA)
            m.added_snapshot_id = 1
            written.append(m)
        ml_path = os.path.join(meta_dir, "snap-1.avro")
        mf.write_manifest_list(ml_path, written, 1, None, 1, tm.format_version)
        files = self.manifests * self.entries
        snap = Snapshot(
            snapshot_id=1, timestamp_ms=1_704_067_200_000,
            manifest_list=ml_path, sequence_number=1,
            summary={"operation": "append",
                     "added-data-files": str(files),
                     "added-records": str(files * ROWS_PER_FILE),
                     "total-records": str(files * ROWS_PER_FILE),
                     "total-data-files": str(files)},
            schema_id=tm.current_schema_id)
        tm.snapshots.append(snap)
        tm.current_snapshot_id = 1
        tm.last_sequence_number = 1
        tm.snapshot_log.append({"timestamp-ms": snap.timestamp_ms,
                                "snapshot-id": 1})
        tm.refs["main"] = {"snapshot-id": 1, "type": "branch"}
        write_table_metadata(tm, loc)
        self.loc = loc

    def _where(self, w: int, lo: int) -> str:
        hi = lo + w
        if hi <= self.manifests:
            return f"partition_id >= {lo} AND partition_id < {hi}"
        return (f"partition_id >= {lo} OR "
                f"partition_id < {hi - self.manifests}")

    def run_op(self, op: Op):
        tm = load_table_metadata(self.loc)
        return plan_scan_distributed(self.spark, tm, tm.select_snapshot(),
                                     self._where(*op.args))

    def expected(self, op: Op):
        w, _ = op.args
        return w * self.entries, self.manifests - w

    def check(self, op: Op, plan, expected) -> str | None:
        got = len(plan.tasks), plan.stats["manifests_pruned"]
        if got != expected:
            return (f"{op.kind} at {op.args[1]}: (tasks, manifests_pruned) "
                    f"= {got}, expected {expected}")
        return None

    def end_state(self) -> str | None:
        return None

    def table_stats(self) -> dict:
        return {"data_files": self.manifests * self.entries,
                "delete_files": 0, "manifests": self.manifests,
                "snapshots": 1}

    def live_rows(self) -> int:
        return self.manifests * self.entries * ROWS_PER_FILE
