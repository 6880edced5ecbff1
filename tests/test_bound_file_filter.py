"""File pruning bound once per plan, on metadata-only tables (no Spark job:
the manifests point at data files that do not exist)."""

import os
from decimal import Decimal

from pyspark.sql import types as T

from duckdb_iceberg_spark.metadata import manifest as mf
from duckdb_iceberg_spark.metadata import types as ice_types
from duckdb_iceberg_spark.metadata.table_metadata import (
    Snapshot,
    load_table_metadata,
    write_table_metadata,
)
from duckdb_iceberg_spark.plans import predicates as P
from duckdb_iceberg_spark.plans.scan_plan import plan_scan
from duckdb_iceberg_spark.sources.writer import create_table


def _metadata_only_table(loc, schema, partition_by, manifests):
    """Table whose one snapshot holds one manifest per item of
    ``manifests``: a list of ``(partition dict, [(lower_bounds,
    upper_bounds), ...])``, one pair of bound dicts per data file."""
    tm = create_table(loc, schema, partition_by=partition_by)
    spec = tm.default_spec()
    meta_dir = os.path.join(loc, "metadata")
    written = []
    for m, (partition, files) in enumerate(manifests):
        entries = [
            mf.ManifestEntry(
                status=mf.STATUS_ADDED, snapshot_id=1, sequence_number=1,
                file_sequence_number=1,
                data_file=mf.DataFile(
                    content=mf.CONTENT_DATA,
                    file_path=f"{loc}/data/m{m}/f{i}.parquet",
                    file_format="PARQUET", partition=dict(partition),
                    record_count=1, file_size_in_bytes=1024,
                    value_counts={fid: 1 for fid in lower},
                    null_value_counts={fid: 0 for fid in lower},
                    lower_bounds=lower, upper_bounds=upper))
            for i, (lower, upper) in enumerate(files)]
        man = mf.write_manifest(os.path.join(meta_dir, f"man-{m}.avro"),
                                entries, tm, spec)
        man.added_snapshot_id = 1
        written.append(man)
    ml_path = os.path.join(meta_dir, "snap-1.avro")
    mf.write_manifest_list(ml_path, written, 1, None, 1, tm.format_version)
    snap = Snapshot(snapshot_id=1, timestamp_ms=1_704_067_200_000,
                    manifest_list=ml_path, sequence_number=1,
                    summary={"operation": "append"},
                    schema_id=tm.current_schema_id)
    tm.snapshots.append(snap)
    tm.current_snapshot_id = 1
    tm.last_sequence_number = 1
    tm.refs["main"] = {"snapshot-id": 1, "type": "branch"}
    write_table_metadata(tm, loc)
    return load_table_metadata(loc)


def _one_value_table(loc, spark_type, iceberg_type, value):
    """Unpartitioned table of one file whose column ``k`` holds only
    ``value``."""
    b = ice_types.encode_bound(iceberg_type, value)
    schema = T.StructType([T.StructField("k", spark_type)])
    return _metadata_only_table(loc, schema, None, [({}, [({1: b}, {1: b})])])


def _tasks(tm, where):
    return len(plan_scan(tm, tm.select_snapshot(), where).tasks)


def test_long_bounds_past_2_53_compare_exactly(tmp_path):
    """A float() round trip made 2**53 + 1 equal 2**53, so these plans
    pruned the only file, which holds a matching row."""
    big = 2**53 + 1
    tm = _one_value_table(str(tmp_path / "hi"), T.LongType(), "long", big)
    assert _tasks(tm, f"k > {2**53}") == 1
    assert _tasks(tm, f"k = {big}") == 1
    assert _tasks(tm, f"k > {big}") == 0

    tm = _one_value_table(str(tmp_path / "lo"), T.LongType(), "long", 2**53)
    assert _tasks(tm, f"k < {big}") == 1
    assert _tasks(tm, f"k < {2**53}") == 0


def test_decimal38_bounds_compare_exactly(tmp_path):
    value = Decimal(10**37 + 1)
    tm = _one_value_table(str(tmp_path / "d"), T.DecimalType(38, 0),
                          "decimal(38, 0)", value)
    assert _tasks(tm, f"k > {10**37}") == 1
    assert _tasks(tm, f"k >= {10**37 + 2}") == 0
    assert _tasks(tm, f"k < {10**37 + 2}") == 1


def test_nan_comparisons_stay_unordered():
    nan = float("nan")
    assert P._cmp(nan, 1.0) == 0
    assert P._cmp(1, nan) == 0
    assert P._cmp(Decimal("NaN"), 1) == 0


def _range_table(loc, entries_per_manifest):
    schema = T.StructType([T.StructField("p", T.IntegerType()),
                           T.StructField("v", T.LongType())])
    manifests = []
    for p in range(10):
        files = []
        for j in range(entries_per_manifest):
            files.append(({1: ice_types.encode_bound("int", p),
                           2: ice_types.encode_bound("long", j * 10)},
                          {1: ice_types.encode_bound("int", p),
                           2: ice_types.encode_bound("long", j * 10 + 9)}))
        manifests.append(({"p": p}, files))
    return _metadata_only_table(loc, schema, ["p"], manifests)


def test_predicate_is_bound_once_per_plan(tmp_path, monkeypatch):
    """Literal coercion and partition projection run per plan, not per
    file: their call count is the same at 1x and 4x the entries."""
    counts = {"coerce_literal": 0, "transform_predicate": 0}
    for name in counts:
        real = getattr(P, name)

        def counting(*a, _real=real, _name=name, **kw):
            counts[_name] += 1
            return _real(*a, **kw)
        monkeypatch.setattr(P, name, counting)

    where = "p >= 2 AND p < 8 AND v >= 500"
    seen = []
    for n in (100, 400):
        tm = _range_table(str(tmp_path / f"t{n}"), n)
        for name in counts:
            counts[name] = 0
        plan = plan_scan(tm, tm.select_snapshot(), where)
        # 6 partitions survive; files with v <= 499 are pruned by bounds
        assert len(plan.tasks) == 6 * (n - 50)
        assert plan.stats["files_pruned"] == 6 * 50
        seen.append(dict(counts))
    assert seen[0]["transform_predicate"] > 0 and seen[0]["coerce_literal"] > 0
    assert seen[0] == seen[1]


def test_all_null_partition_manifest_is_pruned(tmp_path):
    """An identity-partition summary with nulls and no bounds says every
    value is NULL: a comparison prunes the manifest unopened, IS NULL
    keeps it. Float summaries keep such manifests (NaN has no bound)."""
    enc = ice_types.encode_bound
    for name, spark_type, ice_type, value, where in [
            ("int", T.IntegerType(), "int", 5, "k = 5"),
            ("double", T.DoubleType(), "double", 5.5, "k = 5.5")]:
        schema = T.StructType([T.StructField("k", spark_type),
                               T.StructField("w", T.LongType())])
        b = enc(ice_type, value)
        tm = _metadata_only_table(str(tmp_path / name), schema, ["k"], [
            ({"k": None}, [({2: enc("long", 1)}, {2: enc("long", 9)})]),
            ({"k": value}, [({1: b}, {1: b})])])
        snap = tm.select_snapshot()
        plan = plan_scan(tm, snap, where)
        assert len(plan.tasks) == 1 and plan.stats["files_pruned"] == \
            (1 if name == "double" else 0)
        assert plan.stats["manifests_pruned"] == \
            (0 if name == "double" else 1), name
        if name == "int":
            nulls = plan_scan(tm, snap, "k IS NULL")
            assert nulls.stats["manifests_pruned"] == 1
            assert [t.data_file.partition for t in nulls.tasks] == \
                [{"k": None}]
            assert plan_scan(tm, snap, "k IS NOT NULL").stats[
                "manifests_pruned"] == 1
