"""r16 py4j round-trip batching (jrpc + scan SQL path normalization): the
batched spellings must be PLAN- and VALUE-identical to the chatty
public-API spellings they replace — the optimization changes only how
expressions cross the py4j boundary, never what they compute."""

import os

import pyspark.sql.functions as F
import pytest

from duckdb_iceberg_spark import jrpc
from duckdb_iceberg_spark.sources.scan import (
    _norm_path_py,
    _norm_path_sql,
    _norm_uri_path_sql,
    _replace_col_sql,
)

TRICKY_PATHS = [
    "file:///data/part-0.parquet",
    "file:/single/slash.parquet",
    "s3a://bucket/k+e y/part.parquet",
    "s3://bucket/plain.parquet",
    "/local/with%3Acolon/part.parquet",
    "/local/lit+plus/part%2Bp.parquet",
    "hdfs://nn/path/part.parquet",
]


def test_norm_path_sql_matches_python_twin(spark):
    """The SQL normalization of a raw (manifest-spelled) path equals the
    Python one applied to manifest literals: both sides of every path
    join agree."""
    df = spark.createDataFrame([(p,) for p in TRICKY_PATHS], "p string")
    sql_side = df.selectExpr(_norm_path_sql("p") + " AS n").collect()
    assert [r["n"] for r in sql_side] == [_norm_path_py(p) for p in TRICKY_PATHS]


def test_norm_uri_path_sql_matches_python_twin(spark, tmp_path):
    """Spark reports ``_metadata.file_path`` as a percent-encoded URI; the
    SQL normalization of that URI equals ``_norm_path_py`` of the raw path
    the file was written under, for directory names with '%3A', '+', a
    space and '%2B'."""
    raw = []
    for i, d in enumerate(["with%3Acolon", "lit+plus", "k+e y", "p%2Bq"]):
        out = tmp_path / d
        spark.range(i, i + 1).coalesce(1).write.parquet(str(out))
        raw += [str(out / f) for f in os.listdir(out) if f.endswith(".parquet")]
    got = (jrpc.read_files(spark, raw)
           .selectExpr(_norm_uri_path_sql("_metadata.file_path") + " AS n")
           .collect())
    assert sorted(r["n"] for r in got) == sorted(_norm_path_py(p) for p in raw)


def test_select_exprs_matches_selectExpr_plan(spark):
    df = spark.range(5).selectExpr("id", "id * 2 AS two", "id + 1 AS nxt")
    exprs = ["`two`", "nxt + id AS s"]
    a = jrpc.select_exprs(df, exprs)
    b = df.selectExpr(*exprs)
    assert a.schema == b.schema
    assert a.collect() == b.collect()
    # identical analyzed plans — the batching is a transport change only
    # (normalize the monotonic expression-ID suffixes, #12L etc.)
    import re

    def norm(df):
        return re.sub(r"#\d+", "#", df._jdf.queryExecution().analyzed().toString())

    assert norm(a) == norm(b)


def test_jseq_strings_preserves_order_and_content(spark):
    strings = ["a", "", "with space", "newline-free", "ütf-8 ✓", "a,b"]
    seq = jrpc.jseq_strings(spark, strings)
    assert seq.size() == len(strings)
    assert [seq.apply(i) for i in range(len(strings))] == strings


def test_read_files_matches_public_reader(spark, tmp_path):
    src = spark.range(10).selectExpr("id", "id * id AS sq")
    p1, p2 = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    src.where("id < 5").coalesce(1).write.parquet(p1)
    src.where("id >= 5").coalesce(1).write.parquet(p2)
    schema = "id long, sq long"
    a = jrpc.read_files(spark, [p1, p2],
                        spark.createDataFrame([], schema).schema)
    b = spark.read.schema(schema).parquet(p1, p2)
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_jcol_and_jexpr_match_public_functions(spark):
    df = spark.createDataFrame([(1, 2)], "`a.b` long, c long")
    via_jcol = df.select(jrpc.jcol("`a.b`").alias("x")).collect()
    via_fcol = df.select(F.col("`a.b`").alias("x")).collect()
    assert via_jcol == via_fcol
    cond_j = df.select(jrpc.jexpr("c + 1 AS d")).collect()
    cond_f = df.select(F.expr("c + 1 AS d")).collect()
    assert cond_j == cond_f


def test_replace_col_sql_preserves_order_and_replaces_in_place(spark):
    df = spark.createDataFrame([("file:/x/y", 1)], "p string, v int")
    out = _replace_col_sql(df, "p", _norm_path_sql("`p`"))
    assert out.columns == ["p", "v"]
    assert out.first()["p"] == "/x/y"


def test_scan_frame_identical_to_pre_batching_shape(spark, tmp_path):
    """End-to-end: an iceberg_scan over a written table returns the same
    rows and schema through the batched construction (the oracle sweep
    pins this against DuckDB too; this is the fast in-suite guard)."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.sources.scan import iceberg_scan

    loc = str(tmp_path / "t")
    src = spark.createDataFrame(
        [(i, f"row {i}", float(i)) for i in range(50)],
        "id long, name string, score double")
    write_iceberg(src, loc)
    got = iceberg_scan(spark, loc)
    assert [f.name for f in got.schema.fields] == ["id", "name", "score"]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, src.collect()))
    # residual filter through the batched path
    filt = iceberg_scan(spark, loc, where="id >= 40 AND name LIKE 'row 4%'")
    assert filt.count() == 10


def _construction_round_trips(spark, loc, **kw):
    """py4j round trips of one scan_to_dataframe call (after a warm-up call
    that fills the per-session JVM handle caches); reference releases are
    sent whenever Python finalizes a JVM handle, so they are not counted."""
    import py4j.clientserver as cs
    import py4j.java_gateway as jg
    from py4j.protocol import MEMORY_COMMAND_NAME

    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan
    from duckdb_iceberg_spark.sources.scan import scan_to_dataframe

    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot())
    scan_to_dataframe(spark, plan, **kw)
    calls = [0]
    saved = []
    for cls in (cs.ClientServerConnection, jg.GatewayConnection):
        orig = cls.send_command

        def counting(self, command, *a, _orig=orig, **k):
            if not command.startswith(MEMORY_COMMAND_NAME):
                calls[0] += 1
            return _orig(self, command, *a, **k)

        saved.append((cls, orig))
        cls.send_command = counting
    try:
        scan_to_dataframe(spark, plan, **kw)
    finally:
        for cls, orig in saved:
            cls.send_command = orig
    return calls[0]


def test_scan_construction_round_trips_pinned(spark, tmp_path):
    """Every scan-side file read goes through one reader; merging the
    per-format read paths into it must not add construction round trips.
    The bounds are the counts measured before the merge."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.sources.ddl import set_table_properties
    from duckdb_iceberg_spark.sources.dml import delete_from, equality_delete

    posd = str(tmp_path / "posd")
    write_iceberg(spark.range(200).selectExpr("id", "id % 5 AS k")
                  .repartition(4), posd)
    delete_from(spark, posd, "id % 7 = 0", mode="merge-on-read")
    eqd = str(tmp_path / "eqd")
    write_iceberg(spark.range(200).selectExpr("id", "id % 5 AS k")
                  .repartition(4), eqd)
    equality_delete(spark, eqd, spark.createDataFrame([(1,), (3,)], "k: long"))
    mixed = str(tmp_path / "mixed")
    write_iceberg(spark.range(100).selectExpr("id", "id % 5 AS k")
                  .repartition(2), mixed,
                  properties={"write.format.default": "orc"})
    set_table_properties(mixed, {"write.format.default": "avro"})
    write_iceberg(spark.range(100, 150).selectExpr("id", "id % 5 AS k"), mixed)
    # one ORC file gains a positional delete: ORC reads on both planes
    delete_from(spark, mixed, "id = 3 OR id = 120", mode="merge-on-read")

    assert _construction_round_trips(spark, posd, with_file_info=True) <= 59
    assert _construction_round_trips(spark, eqd) <= 168
    assert _construction_round_trips(spark, mixed) <= 109
