"""ORC data files — beyond the reference, which refuses every non-parquet
data file (src/planning/iceberg_multi_file_list.cpp:528-529). We honor the
spec's ``write.format.default`` table property and read ORC through Spark's
native ORC source; row-position-dependent features (positional deletes /
DVs, file_row_number, row lineage, MoR DML) work since r12 by routing the
position-needing ORC files through the arrow data plane, which synthesizes
exact per-file row ordinals (Spark exposes ``_metadata.row_index`` for
parquet only). Unsupported formats keep the reference's refusal texts
(data: iceberg_multi_file_list.cpp:528-529; deletes:
iceberg_delete_file_scanner.cpp:393-396)."""

import pytest
from pyspark.sql import functions as F

from duckdb_iceberg_spark import iceberg_count, iceberg_scan, write_iceberg
from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
from duckdb_iceberg_spark.plans.scan_plan import plan_scan
from duckdb_iceberg_spark.sources.ddl import set_table_properties

from .conftest import load

ORC_PROPS = {"write.format.default": "orc"}


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_orc_roundtrip_unpartitioned(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "nation")
    loc = str(tmp_path / "nation_orc")
    write_iceberg(src, loc, properties=ORC_PROPS)

    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot())
    fmts = {t.data_file.file_format for t in plan.tasks}
    assert fmts == {"ORC"}
    assert all(t.data_file.file_path.endswith(".orc") for t in plan.tasks)

    out = iceberg_scan(spark, loc)
    cols = src.columns
    assert _sorted_rows(out, cols) == _sorted_rows(src, cols)
    # metadata-only count works off the manifests regardless of format
    assert iceberg_count(loc) == src.count()


def test_orc_identity_partitioned_with_pruning(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date"))
    loc = str(tmp_path / "orders_orc")
    write_iceberg(src, loc, partition_by=["o_orderpriority"],
                  properties=ORC_PROPS)

    tm = load_table_metadata(loc)
    full = plan_scan(tm, tm.select_snapshot())
    pruned = plan_scan(tm, tm.select_snapshot(),
                       where="o_orderpriority = '1-URGENT'")
    assert 0 < len(pruned.tasks) < len(full.tasks)

    out = iceberg_scan(spark, loc, where="o_orderpriority = '1-URGENT'")
    want = src.filter("o_orderpriority = '1-URGENT'")
    assert out.count() == want.count()
    got = _sorted_rows(out.groupBy("o_orderpriority").count(),
                       ["o_orderpriority", "count"])
    assert got == _sorted_rows(want.groupBy("o_orderpriority").count(),
                               ["o_orderpriority", "count"])


def test_orc_column_bounds_prune_files(spark, sf_dir, tmp_path):
    """The distributed stats aggregate records exact per-file bounds, so
    plain column predicates prune ORC files just like parquet-footer
    bounds do."""
    src = load(spark, sf_dir, "nation")
    loc = str(tmp_path / "nation_orc_bounds")
    # two appends → two files with disjoint n_nationkey ranges
    write_iceberg(src.filter("n_nationkey < 10"), loc, properties=ORC_PROPS)
    write_iceberg(src.filter("n_nationkey >= 10"), loc)

    tm = load_table_metadata(loc)
    full = plan_scan(tm, tm.select_snapshot())
    pruned = plan_scan(tm, tm.select_snapshot(), where="n_nationkey <= 3")
    assert len(full.tasks) == 2
    assert len(pruned.tasks) == 1
    out = iceberg_scan(spark, loc, where="n_nationkey <= 3")
    assert out.count() == src.filter("n_nationkey <= 3").count()


def test_orc_and_parquet_mixed_table(spark, sf_dir, tmp_path):
    """Append parquet, flip write.format.default to orc, append again —
    one scan unions both formats by name."""
    src = load(spark, sf_dir, "region")
    loc = str(tmp_path / "region_mixed")
    write_iceberg(src, loc)  # parquet
    set_table_properties(loc, ORC_PROPS)
    write_iceberg(src, loc)  # orc append

    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot())
    fmts = sorted({t.data_file.file_format for t in plan.tasks})
    assert fmts == ["ORC", "PARQUET"]

    out = iceberg_scan(spark, loc)
    assert out.count() == 2 * src.count()
    got = _sorted_rows(out.groupBy("r_name").count(), ["r_name", "count"])
    assert all(n == 2 for _, n in got)


def test_orc_equality_deletes_apply(spark, sf_dir, tmp_path):
    """Equality deletes anti-join on key columns + file path only — no row
    positions — so they apply to ORC data files unchanged."""
    from duckdb_iceberg_spark.sources.dml import upsert_equality

    src = load(spark, sf_dir, "region")
    loc = str(tmp_path / "region_orc_eq")
    write_iceberg(src, loc, properties=ORC_PROPS)
    updates = src.filter("r_regionkey <= 1").withColumn(
        "r_name", F.lit("updated"))
    upsert_equality(spark, loc, updates, key_columns=["r_regionkey"])

    out = iceberg_scan(spark, loc)
    assert out.count() == src.count()
    assert out.filter("r_name = 'updated'").count() == 2


def test_orc_mor_positional_delete(spark, sf_dir, tmp_path):
    """r12 (VERDICT r11 task 5): MoR positional deletes WORK over ORC —
    the arrow data plane synthesizes exact per-file row ordinals, so the
    DML derives (file_path, pos) rows and the subsequent scan anti-joins
    them; the ORC data files themselves are never rewritten (true MoR)."""
    from duckdb_iceberg_spark.metadata import manifest as mf
    from duckdb_iceberg_spark.sources.dml import delete_from

    src = load(spark, sf_dir, "nation")
    loc = str(tmp_path / "nation_orc_mor")
    write_iceberg(src, loc, properties=ORC_PROPS)
    before = {t.data_file.file_path
              for t in plan_scan(load_table_metadata(loc),
                                 load_table_metadata(loc).select_snapshot()).tasks}
    delete_from(spark, loc, "n_nationkey < 5", mode="merge-on-read")

    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot())
    # data files unchanged (no rewrite), delete files are parquet positional
    assert {t.data_file.file_path for t in plan.tasks} == before
    dels = [d for t in plan.tasks for d in t.positional_deletes]
    assert dels and all(
        (d.file_format or "").upper() == "PARQUET" for d in dels)
    assert all(d.content == mf.CONTENT_POSITION_DELETES for d in dels)

    out = iceberg_scan(spark, loc)
    assert sorted(r.n_nationkey for r in out.collect()) == sorted(
        r.n_nationkey for r in src.filter("n_nationkey >= 5").collect())
    # a second MoR delete stacks on the same ORC files
    delete_from(spark, loc, "n_nationkey >= 20", mode="merge-on-read")
    out = iceberg_scan(spark, loc)
    assert sorted(r.n_nationkey for r in out.collect()) == sorted(
        r.n_nationkey for r in
        src.filter("n_nationkey >= 5 AND n_nationkey < 20").collect())


def test_orc_cow_delete_rewrites_orc(spark, sf_dir, tmp_path):
    from duckdb_iceberg_spark.sources.dml import delete_from

    src = load(spark, sf_dir, "nation")
    loc = str(tmp_path / "nation_orc_cow")
    write_iceberg(src, loc, properties=ORC_PROPS)
    delete_from(spark, loc, "n_nationkey < 5", mode="copy-on-write")

    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot())
    assert {t.data_file.file_format for t in plan.tasks} == {"ORC"}
    out = iceberg_scan(spark, loc)
    assert out.count() == src.filter("n_nationkey >= 5").count()


def test_orc_file_info_virtual_columns(spark, sf_dir, tmp_path):
    """r12: filename / file_row_number over ORC come from the arrow
    plane's synthesized ordinals — contiguous 0..n-1 per file, the same
    position semantics the parquet plane's _metadata.row_index carries."""
    src = load(spark, sf_dir, "region")
    loc = str(tmp_path / "region_orc_fi")
    write_iceberg(src, loc, properties=ORC_PROPS)
    rows = iceberg_scan(spark, loc, with_file_info=True).collect()
    assert len(rows) == src.count()
    by_file: dict = {}
    for r in rows:
        assert r.filename and r.filename.endswith(".orc")
        by_file.setdefault(r.filename, []).append(r.file_row_number)
    for poss in by_file.values():
        assert sorted(poss) == list(range(len(poss)))


def test_unsupported_data_format_refusal_text(spark, sf_dir, tmp_path):
    """A manifest claiming an unknown data format keeps the reference's
    refusal (iceberg_multi_file_list.cpp:528-529, extended with 'orc' and
    — since r12 — 'avro')."""
    src = load(spark, sf_dir, "region")
    loc = str(tmp_path / "region_avro_claim")
    write_iceberg(src, loc)
    tm = load_table_metadata(loc)
    snap = tm.select_snapshot()
    plan = plan_scan(tm, snap)
    assert plan.tasks
    from duckdb_iceberg_spark.metadata import manifest as mf

    # forge the format field in the manifests (the planner reads their
    # columns, not entry objects) and re-plan
    for m in mf.read_manifest_list(snap.manifest_list):
        entries = mf.read_manifest(m.manifest_path)
        for e in entries:
            if e.data_file.content == mf.CONTENT_DATA:
                e.data_file.file_format = "CSV"
        mf.write_manifest(m.manifest_path, entries, tm,
                          tm.partition_specs[m.partition_spec_id])
    mf.clear_manifest_cache()
    with pytest.raises(
            NotImplementedError,
            match=r"File format 'CSV' not supported, only supports "
                  r"'parquet', 'orc' and 'avro' currently"):
        plan_scan(tm, snap)


def test_unsupported_delete_format_refusal_text(spark, sf_dir, tmp_path):
    """A delete file in a non-parquet/puffin format keeps the reference's
    refusal (iceberg_delete_file_scanner.cpp:393-396)."""
    from duckdb_iceberg_spark.sources.dml import delete_from

    src = load(spark, sf_dir, "region")
    loc = str(tmp_path / "region_del_fmt")
    write_iceberg(src, loc)
    delete_from(spark, loc, "r_regionkey = 0", mode="merge-on-read")
    tm = load_table_metadata(loc)
    snap = tm.select_snapshot()

    from duckdb_iceberg_spark.metadata import manifest as mf
    import duckdb_iceberg_spark.plans.scan_plan as sp

    real = mf.read_manifest

    def forged(path, *a, **kw):
        entries = real(path, *a, **kw)
        for e in entries:
            if e.data_file.content == mf.CONTENT_POSITION_DELETES:
                # ORC/AVRO deletes became readable in r13 (format-routed
                # through the arrow plane); the guard now pins genuinely
                # unknown formats only
                e.data_file.file_format = "CSV"
        return entries

    sp.mf.read_manifest = forged
    try:
        with pytest.raises(
                NotImplementedError,
                match=r"File format 'CSV' not supported for deletes"):
            plan_scan(tm, snap)
    finally:
        sp.mf.read_manifest = real


def test_orc_codec_property(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "region")
    loc = str(tmp_path / "region_orc_snappy")
    write_iceberg(src, loc, properties={
        "write.format.default": "orc",
        "write.orc.compression-codec": "snappy"})
    out = iceberg_scan(spark, loc)
    assert out.count() == src.count()

    with pytest.raises(NotImplementedError,
                       match="write.orc.compression-codec"):
        write_iceberg(src, str(tmp_path / "bad_codec"), properties={
            "write.format.default": "orc",
            "write.orc.compression-codec": "brotli"})


def test_unsupported_write_format_property(spark, sf_dir, tmp_path):
    # avro became a supported write format in r13 — the loud refusal now
    # belongs to genuinely unknown formats only
    src = load(spark, sf_dir, "region")
    with pytest.raises(NotImplementedError, match="write.format.default"):
        write_iceberg(src, str(tmp_path / "bad_fmt"),
                      properties={"write.format.default": "csv"})


def test_orc_initial_defaults_by_name(spark, sf_dir, tmp_path):
    """A column added with a default after ORC files were written surfaces
    the default for those files (name-resolved ORC schema sniff)."""
    from duckdb_iceberg_spark.sources.ddl import add_column

    src = load(spark, sf_dir, "region")
    loc = str(tmp_path / "region_orc_def")
    write_iceberg(src, loc, properties=ORC_PROPS)
    add_column(loc, "status", "string", default="new")
    out = iceberg_scan(spark, loc)
    assert out.filter("status = 'new'").count() == src.count()


def test_orc_compaction_rewrites_orc(spark, sf_dir, tmp_path):
    """rewrite_data_files over an ORC table: bin-packs the small ORC
    files into fewer ORC files, content unchanged."""
    from duckdb_iceberg_spark.sources.maintenance import rewrite_data_files

    src = load(spark, sf_dir, "nation")
    loc = str(tmp_path / "nation_orc_compact")
    for k in range(4):
        write_iceberg(src.filter(f"n_nationkey % 4 = {k}"), loc,
                      properties=ORC_PROPS if k == 0 else None)
    tm0 = load_table_metadata(loc)
    n_before = len(plan_scan(tm0, tm0.select_snapshot()).tasks)
    assert n_before == 4

    rewrite_data_files(spark, loc, min_input_files=2)
    tm1 = load_table_metadata(loc)
    plan = plan_scan(tm1, tm1.select_snapshot())
    assert len(plan.tasks) < n_before
    assert {t.data_file.file_format for t in plan.tasks} == {"ORC"}
    out = iceberg_scan(spark, loc)
    assert sorted(r.n_nationkey for r in out.collect()) \
        == sorted(r.n_nationkey for r in src.collect())


def test_orc_on_object_store_via_arrow_plane(spark, tmp_path):
    """ORC data files behind a non-native scheme read through the arrow
    data plane (executor/driver pyarrow.orc over the FileIO) — the same
    moved-table localization as parquet tables."""
    import os

    import pytest
    from pyarrow import fs as pafs

    from duckdb_iceberg_spark import io as fio

    mock = pafs._MockFileSystem()
    fio.register_io("mock", fio.ArrowFileIO("mock", mock, shippable=False))

    src = spark.range(60).selectExpr("id", "id % 3 AS k")
    loc = str(tmp_path / "torc")
    write_iceberg(src, loc, properties=ORC_PROPS)

    # move the whole table to the object store (relative layout preserved)
    dst = "mock://bucket/torc"
    for root, _dirs, files in os.walk(loc):
        for f in files:
            p = os.path.join(root, f)
            rel = os.path.relpath(p, loc)
            out = dst + "/" + rel.replace(os.sep, "/")
            io = fio.get_io(out)
            io.mkdirs(out.rsplit("/", 1)[0])
            io.write_bytes(out, open(p, "rb").read())

    out = iceberg_scan(spark, dst)
    assert out.count() == 60
    assert sorted(r.id for r in out.filter("k = 1").collect()) == [
        i for i in range(60) if i % 3 == 1]

    # row-position consumers work on this plane too (r12 — one position
    # semantics across planes: per-file ordinals)
    fi = iceberg_scan(spark, dst, with_file_info=True).collect()
    assert len(fi) == 60
    assert all(r.file_row_number is not None for r in fi)


def test_orc_nan_column_gets_no_bounds(spark, tmp_path):
    """A NaN-polluted double column gets NO min/max in ORC manifests
    (parquet-writer parity; either NaN-as-max or NaN-filtered bounds
    mis-prunes one direction — r11 review) and its nan count lands in
    nan_value_counts; range scans keep the NaN rows."""
    df = spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, 2.0)], "id long, d double")
    loc = str(tmp_path / "orc_nan")
    write_iceberg(df, loc, properties=ORC_PROPS)

    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot())
    d_fid = next(f["id"] for f in tm.schema_json()["fields"]
                 if f["name"] == "d")
    id_fid = next(f["id"] for f in tm.schema_json()["fields"]
                  if f["name"] == "id")
    for t in plan.tasks:
        nan_n = (t.data_file.nan_value_counts or {}).get(d_fid, 0)
        if nan_n:
            # the NaN-carrying file drops the column's bounds
            assert d_fid not in (t.data_file.lower_bounds or {})
            assert d_fid not in (t.data_file.upper_bounds or {})
        elif t.data_file.record_count:
            assert d_fid in (t.data_file.lower_bounds or {})
        # the int column keeps its bounds everywhere
        assert id_fid in (t.data_file.lower_bounds or {})
    total_nan = sum((t.data_file.nan_value_counts or {}).get(d_fid, 0)
                    for t in plan.tasks)
    assert total_nan == 1

    # Spark evaluates NaN >= 100 as TRUE (NaN greatest): the row survives
    out = iceberg_scan(spark, loc, where="d >= 100")
    assert [r.id for r in out.collect()] == [2]


def test_orc_schema_sniff_shares_distributed_fanout(spark, tmp_path,
                                                    monkeypatch):
    """VERDICT r11 task 4: ORC schema sniffing goes through the SAME
    fan-out path as the parquet footer sniff — driver thread pool below
    the cutoff, executor fan-out above it — so a foreign ORC
    table with thousands of files never serializes schema reads on the
    driver. Forces the executor branch by dropping the cutoff to 2."""
    import pyarrow as pa
    import pyarrow.orc as po

    from duckdb_iceberg_spark import fanout
    from duckdb_iceberg_spark.sources import scan as scan_mod

    files = []
    for i in range(6):
        p = str(tmp_path / f"f{i}.orc")
        po.write_table(pa.table({"a": [i], "b": [f"x{i}"]}), p)
        files.append(p)

    monkeypatch.setattr(fanout, "DRIVER_MAX", 2)
    # bypass the process-lifetime cache (immutable-path keyed)
    monkeypatch.setattr(scan_mod, "_SNIFF_CACHE", {})
    out = scan_mod._sniff_orc_schemas(spark, files)
    assert sorted(r[0] for r in out) == sorted(files)
    for path, has_ids, names, fids, sig in out:
        assert has_ids is False and fids == []
        assert names == ["a", "b"]
        assert "a:int64" in sig
    # cache: a second call must not re-read
    monkeypatch.setattr(fanout, "DRIVER_MAX", 64)
    again = scan_mod._sniff_orc_schemas(spark, files)
    assert sorted(r[0] for r in again) == sorted(files)


def test_orc_v3_dv_delete_and_row_lineage(spark, tmp_path):
    """r12: v3 deletion vectors AND row lineage over ORC data files — the
    arrow plane's synthesized ordinals serve as DV positions and as the
    per-file offsets added to first_row_id. _row_id values must be stable
    across the delete (lineage follows the surviving rows)."""
    from duckdb_iceberg_spark.sources.dml import delete_from

    loc = str(tmp_path / "orc_v3_dv")
    df = spark.range(0, 100).selectExpr("id", "id % 10 AS k")
    write_iceberg(df, loc, format_version=3,
                  properties=ORC_PROPS)

    lin_before = {r.id: r._row_id for r in iceberg_scan(
        spark, loc, with_row_lineage=True).collect()}
    assert len(lin_before) == 100
    assert sorted(lin_before.values()) == list(range(100))

    delete_from(spark, loc, "k = 3", mode="merge-on-read")
    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot())
    assert {t.data_file.file_format for t in plan.tasks} == {"ORC"}
    dvs = [d for t in plan.tasks for d in t.positional_deletes
           if (d.file_format or "").lower() == "puffin"]
    assert dvs, "expected deletion-vector entries over the ORC files"

    rows = iceberg_scan(spark, loc, with_row_lineage=True).collect()
    assert sorted(r.id for r in rows) == [i for i in range(100) if i % 10 != 3]
    for r in rows:
        assert r._row_id == lin_before[r.id], "lineage must be stable"
