"""Dynamic file-list re-pruning from a join build side
(reference: IcebergMultiFileList::DynamicFilterPushdown,
src/planning/iceberg_multi_file_list.cpp:243-273)."""

import os

import pytest

from pyspark.sql import functions as F

from tests.conftest import load


def test_runtime_filter_prunes_files(spark, sf_dir, tmp_path):
    from duckdb_iceberg_spark import iceberg_scan, scan_with_runtime_filter, write_iceberg

    loc = os.path.join(str(tmp_path), "supplier_bucketed")
    write_iceberg(load(spark, sf_dir, "supplier"), loc,
                  partition_by=["bucket(8, s_suppkey)"])
    full = iceberg_scan(spark, loc)
    n_full = len(full.inputFiles())
    assert n_full >= 4  # bucketed into multiple files

    dim = spark.createDataFrame([(1,), (5,)], "s_suppkey long")
    pruned = scan_with_runtime_filter(spark, loc, dim, "s_suppkey")
    n_pruned = len(pruned.inputFiles())
    assert n_pruned < n_full  # the point: fewer files planned in

    got = sorted(r.s_suppkey for r in
                 pruned.join(dim.withColumnRenamed("s_suppkey", "k"),
                             F.col("s_suppkey") == F.col("k")).collect())
    assert got == [1, 5]


def test_runtime_filter_range_fallback(spark, sf_dir, tmp_path):
    """Past max_in_keys the filter degrades to the build side's min/max
    range — still correct, still a valid pruning predicate."""
    from duckdb_iceberg_spark import scan_with_runtime_filter, write_iceberg

    loc = os.path.join(str(tmp_path), "nation_plain")
    write_iceberg(load(spark, sf_dir, "nation"), loc)
    dim = spark.range(3, 7).select(F.col("id").alias("n_nationkey"))
    df = scan_with_runtime_filter(spark, loc, dim, "n_nationkey",
                                  max_in_keys=2)
    got = sorted(r.n_nationkey for r in df.collect())
    assert got == [3, 4, 5, 6]


def test_runtime_filter_empty_build_side(spark, sf_dir, tmp_path):
    from duckdb_iceberg_spark import scan_with_runtime_filter, write_iceberg

    loc = os.path.join(str(tmp_path), "region_plain")
    write_iceberg(load(spark, sf_dir, "region"), loc)
    dim = spark.createDataFrame([], "r_regionkey long")
    df = scan_with_runtime_filter(spark, loc, dim, "r_regionkey")
    # no keys -> conservative full scan (correctness over pruning)
    assert df.count() == 5


def test_runtime_filter_string_keys_and_extra_where(spark, sf_dir, tmp_path):
    from duckdb_iceberg_spark import scan_with_runtime_filter, write_iceberg

    loc = os.path.join(str(tmp_path), "nation_str")
    write_iceberg(load(spark, sf_dir, "nation"), loc)
    # NATION_3 is in region 3 (filtered out); O'HARA exercises quote
    # escaping through BOTH the pruning parser and Spark's residual filter
    dim = spark.createDataFrame([("NATION_1",), ("NATION_6",), ("NATION_3",),
                                 ("O'HARA",)], "n_name string")
    df = scan_with_runtime_filter(spark, loc, dim, "n_name",
                                  where="n_regionkey = 1")
    got = sorted(r.n_name for r in df.collect())
    assert got == ["NATION_1", "NATION_6"]


def test_runtime_filter_consults_ndv_stats(spark, tmp_path):
    """r14 (VERDICT r13 task 7): registered theta-sketch NDV informs the
    IN-vs-range choice — when the overflowing build side carries at
    least as many distinct keys as the table's whole key domain, the
    estimated selectivity is ~1 and the re-plan (plus its min/max probe
    job) is skipped; without statistics the range fallback still runs."""
    from duckdb_iceberg_spark import (
        compute_table_stats,
        iceberg_scan,
        scan_with_runtime_filter,
        write_iceberg,
    )

    # key domain: 40 distinct values 0..39, sorted into 4 files so a
    # narrow range WOULD prune
    loc = os.path.join(str(tmp_path), "t_ndv_rt")
    df = spark.range(0, 400).selectExpr("id % 40 as k", "id as payload")
    write_iceberg(df.orderBy("k").coalesce(1), loc)
    for lo in (10, 20, 30):
        write_iceberg(
            spark.range(0, 50).selectExpr(
                f"{lo} + id % 10 as k", "id as payload"),
            loc, mode="append")
    full_files = len(iceberg_scan(spark, loc).inputFiles())
    assert full_files >= 4

    # build side: 60 distinct keys (> max_in_keys=50 AND >= table NDV 40)
    # whose range [0, 59] would NOT have pruned anyway — the stats make
    # the decision without the probe job
    dim = spark.range(0, 60).selectExpr("id as k")

    # without statistics: the range fallback runs and leaves its
    # residual in the plan (correct, but a probe job + a useless filter)
    no_stats = scan_with_runtime_filter(spark, loc, dim, "k",
                                        max_in_keys=50)
    assert "<= 59" in no_stats._jdf.queryExecution().executedPlan() \
        .toString(), "pre-stats behavior: range residual present"

    compute_table_stats(spark, loc, columns=["k"])

    # with statistics: selectivity ~1 -> plain scan, all files planned
    with_stats = scan_with_runtime_filter(spark, loc, dim, "k",
                                          max_in_keys=50)
    assert len(with_stats.inputFiles()) == full_files
    plan = with_stats._jdf.queryExecution().executedPlan().toString()
    assert ">= 0" not in plan and "<= 59" not in plan, \
        "NDV skip must not leave the range residual in the plan"

    # a SELECTIVE build side (below max_in_keys) still prunes via IN
    sel = scan_with_runtime_filter(
        spark, loc, spark.createDataFrame([(3,)], "k long"), "k",
        max_in_keys=50)
    assert len(sel.inputFiles()) < full_files


def test_runtime_filter_unreadable_statistics_file_raises(spark, tmp_path):
    """A registered statistics file that cannot be read fails the NDV
    check loudly instead of silently scanning without it."""
    from duckdb_iceberg_spark import (
        compute_table_stats,
        scan_with_runtime_filter,
        write_iceberg,
    )
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata

    loc = os.path.join(str(tmp_path), "t_bad_stats")
    write_iceberg(spark.range(0, 40).selectExpr("id % 10 as k", "id"), loc)
    compute_table_stats(spark, loc, columns=["k"])
    (entry,) = load_table_metadata(loc).raw["statistics"]
    path = entry["statistics-path"]
    with open(path, "rb") as f:
        head = f.read()[:8]
    with open(path, "wb") as f:
        f.write(head)  # truncated: magic only, no footer
    dim = spark.range(0, 5).selectExpr("id as k")
    with pytest.raises(ValueError, match="not a Puffin file"):
        scan_with_runtime_filter(spark, loc, dim, "k", max_in_keys=1)
