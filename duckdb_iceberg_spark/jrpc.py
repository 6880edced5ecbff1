"""py4j round-trip economizers (r16; guide §1.2 order-of-operations /
§7.3 driver-side work).

Motivation, measured on this box (tools/profile_scan_rpc.py): PySpark's
public API pays several JVM reflection round-trips per call — ``F.col``
costs ~9 (two uncached JVM-view lookups in ``_invoke_function``, active
session probes, a conf get) — and py4j's ListConverter pays one round
trip PER ELEMENT when a Python list crosses to a JVM ``Seq`` (an 83-file
``spark.read.parquet(*files)`` spends 87 round-trips just shipping the
path list). Every round-trip is serial driver latency (~0.1-1 ms), so a
memo-MISS scan construction was ~60% py4j chatter. A 1000-node cluster
pays the identical per-call driver cost.

These helpers move the same work through O(1)-round-trip channels:

- :func:`jseq_strings` — one JSON string → JVM ``ArrayList`` (Jackson,
  already on Spark's classpath) → ``Seq[String]``: 2 round-trips for any
  list length.
- :func:`read_files` — ``DataFrameReader.parquet/orc`` over such a Seq.
- :func:`select_exprs` — ``Dataset.selectExpr`` over such a Seq: one
  projection round-trip no matter how many columns.
- :func:`jcol` — backtick-exact column reference through a memoized
  ``functions.col`` handle: 1 round-trip per column instead of ~9.

Everything returns ordinary pyspark objects; the resulting logical plans
are identical to the chatty spellings (pinned by tests). The private
surface they use is that of the pinned pyspark 4.1; an error in the JVM
call (a bad path, an unresolvable expression) raises as the public API
would, once.
"""

from __future__ import annotations

import json as _json
import weakref as _weakref
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession

#: per-SparkContext cache of JVM handles (mapper, classes, function
#: members). WeakKey so a stopped/replaced context drops its entries.
_jvm_state: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


class _State:
    __slots__ = ("jvm", "mapper", "arraylist_cls", "funcs")

    def __init__(self, sc) -> None:
        self.jvm = sc._jvm
        self.mapper = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.arraylist_cls = self.jvm.java.lang.Class.forName(
            "java.util.ArrayList")
        self.funcs: dict = {}


def _state(sc) -> _State:
    st = _jvm_state.get(sc)
    if st is None:
        st = _jvm_state[sc] = _State(sc)
    return st


def jseq_strings(spark: SparkSession, strings: Sequence[str]):
    """``Seq[String]`` from a Python string list in 2 py4j round-trips
    (vs 1/element through ListConverter): the list crosses as one JSON
    document and is materialized JVM-side by Jackson."""
    st = _state(spark.sparkContext)
    jlist = st.mapper.readValue(_json.dumps(list(strings)), st.arraylist_cls)
    return st.jvm.PythonUtils.toSeq(jlist)


def read_files(spark: SparkSession, files: Sequence[str], schema=None,
               file_format: str = "parquet") -> DataFrame:
    """``spark.read.schema(schema).parquet(*files)`` (or ``.orc``) with the
    file list shipped in O(1) round-trips."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    jdf = getattr(reader._jreader, file_format)(jseq_strings(spark, files))
    return DataFrame(jdf, spark)


def select_exprs(df: DataFrame, exprs: Iterable[str]) -> DataFrame:
    """``df.selectExpr(*exprs)`` with the expression list shipped in O(1)
    round-trips — the selectExpr-string batching lever (r15 notes): a
    projection of N columns costs 3 round-trips instead of ~9N."""
    spark = df.sparkSession
    return DataFrame(df._jdf.selectExpr(jseq_strings(spark, list(exprs))),
                     spark)


def quote_name(name: str) -> str:
    """Backtick-quote an identifier for exact-name resolution inside a
    SQL expression string (the string twin of metadata.types.quoted_col)."""
    return "`" + name.replace("`", "``") + "`"


def _jfunc1(name: str):
    """Memoized 1-arg ``org.apache.spark.sql.functions.<name>`` call,
    wrapped as a Column — ~1 round-trip per call vs ~9 through ``F.<name>``
    (which re-resolves the JVM handle reflectively and probes the active
    session every call). Returns None when no context is active (caller
    falls back to the public API)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return None
    st = _state(sc)
    fn = st.funcs.get(name)
    if fn is None:
        fn = st.funcs[name] = getattr(
            getattr(sc._jvm, "org.apache.spark.sql.functions"), name)
    return fn


def _wrap_column(jc):
    from pyspark.sql.classic.column import Column

    return Column(jc)


def jcol(name: str):
    """Exact-name Column reference in ~1 round-trip. ``name`` must already
    be backtick-quoted if it needs quoting."""
    fn = _jfunc1("col")
    if fn is None:
        from pyspark.sql import functions as F

        return F.col(name)
    return _wrap_column(fn(name))


def jexpr(sql: str):
    """``F.expr(sql)`` in ~1 round-trip (memoized ``functions.expr``
    handle). Same parser, same expression — only the py4j path differs."""
    fn = _jfunc1("expr")
    if fn is None:
        from pyspark.sql import functions as F

        return F.expr(sql)
    return _wrap_column(fn(sql))
