"""The jrpc helpers raise a JVM-side error once, as the public API would,
and never retry it through the public API."""

import pytest
from pyspark.errors import AnalysisException

from duckdb_iceberg_spark import jrpc


def _count_calls(monkeypatch, cls, name):
    calls = []
    real = getattr(cls, name)

    def counting(self, *a, **k):
        calls.append(a)
        return real(self, *a, **k)

    monkeypatch.setattr(cls, name, counting)
    return calls


def test_select_exprs_error_is_not_retried(spark, monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame

    calls = _count_calls(monkeypatch, DataFrame, "selectExpr")
    with pytest.raises(AnalysisException):
        jrpc.select_exprs(spark.range(3), ["no_such_col + 1 AS x"])
    assert calls == []


def test_read_files_error_is_not_retried(spark, monkeypatch, tmp_path):
    from pyspark.sql.readwriter import DataFrameReader

    calls = _count_calls(monkeypatch, DataFrameReader, "parquet")
    with pytest.raises(AnalysisException):
        jrpc.read_files(spark, [str(tmp_path / "missing.parquet")])
    assert calls == []
