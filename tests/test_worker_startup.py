"""Python workers import pyspark from the installed package, and the
package's top-level import stays free of pyspark."""

import os
import subprocess
import sys
import textwrap
import zipfile

from duckdb_iceberg_spark import _pydaemon


def _worker_origin(_):
    import sys
    import zipimport

    import pyspark

    zips = sum(isinstance(v, zipimport.zipimporter)
               for v in sys.path_importer_cache.values())
    return [(pyspark.__file__, zips)]


def test_workers_import_pyspark_outside_zips(spark):
    [(path, zips)] = (spark.sparkContext.parallelize([0], 1)
                      .mapPartitions(_worker_origin).collect())
    assert ".zip" not in path
    assert zips == 0


def _archive(path, **versions):
    with zipfile.ZipFile(path, "w") as z:
        for pkg, v in versions.items():
            z.writestr(f"{pkg}/__init__.py", "")
            z.writestr(f"{pkg}/version.py", f"__version__: str = '{v}'\n")
    return str(path)


def _installed(root, **versions):
    for pkg, v in versions.items():
        os.makedirs(root / pkg)
        (root / pkg / "version.py").write_text(f"__version__ = '{v}'\n")
    return str(root)


def test_path_filter_drops_spark_archives_on_version_match(tmp_path):
    spark_zip = _archive(tmp_path / "pyspark.zip", pyspark="4.1.2")
    py4j_zip = _archive(tmp_path / "py4j-src.zip", py4j="0.10.9.9")
    user_zip = _archive(tmp_path / "user.zip")
    site = _installed(tmp_path / "site", pyspark="4.1.2", py4j="0.10.9.9")
    missing_stdlib_zip = str(tmp_path / "python311.zip")
    path = ["", spark_zip, py4j_zip, str(tmp_path / "spark-core.jar"),
            user_zip, missing_stdlib_zip, site]
    assert _pydaemon.filter_path(path) == [
        "", user_zip, missing_stdlib_zip, site]


def test_path_filter_keeps_path_without_matching_install(tmp_path):
    spark_zip = _archive(tmp_path / "pyspark.zip", pyspark="4.1.2")
    py4j_zip = _archive(tmp_path / "py4j-src.zip", py4j="0.10.9.9")
    jar = str(tmp_path / "spark-core.jar")
    (tmp_path / "empty").mkdir()
    cases = {
        "no installed pyspark": _installed(tmp_path / "a", py4j="0.10.9.9"),
        "pyspark mismatch": _installed(tmp_path / "b", pyspark="4.0.0",
                                       py4j="0.10.9.9"),
        "py4j mismatch": _installed(tmp_path / "c", pyspark="4.1.2",
                                    py4j="0.10.9.7"),
        "nothing installed": str(tmp_path / "empty"),
    }
    for case, site in cases.items():
        path = ["", spark_zip, py4j_zip, jar, site]
        assert _pydaemon.filter_path(path) == path, case
    # no pyspark archive at all: Spark's path stays as it is
    path = ["", py4j_zip, jar, cases["pyspark mismatch"]]
    assert _pydaemon.filter_path(path) == path


def test_package_import_is_lazy():
    code = textwrap.dedent("""
        import importlib, sys
        import duckdb_iceberg_spark as pkg
        assert "pyspark" not in sys.modules, "eager pyspark import"
        assert sorted(pkg._EXPORTS) == sorted(pkg.__all__)
        for name in pkg.__all__:
            sub = importlib.import_module(
                f"duckdb_iceberg_spark.{pkg._EXPORTS[name]}")
            assert getattr(pkg, name) is getattr(sub, name), name
        ns = {}
        exec("from duckdb_iceberg_spark import *", ns)
        assert set(pkg.__all__) <= set(ns)
    """)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True)
