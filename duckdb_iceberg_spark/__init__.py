"""duckdb_iceberg_spark — a PySpark-native Iceberg engine.

Brand-new engine with the query/data-processing capabilities of the
DuckDB-Iceberg extension (reference study in SURVEY.md), re-expressed
Spark-first: Iceberg metadata planning on the driver, all data movement as
Catalyst-optimized DataFrames.

The public names resolve lazily (PEP 562): ``import duckdb_iceberg_spark``
imports no submodule and no pyspark, so ``python -m
duckdb_iceberg_spark._pydaemon`` can fix a Python worker's ``sys.path``
before pyspark is first imported.
"""

import importlib

# public name -> submodule that defines it
_EXPORTS = {
    "get_spark": "session",
    "add_files": "sources.add_files",
    "cherrypick_snapshot": "sources.ddl",
    "fast_forward": "sources.ddl",
    "rollback_to_snapshot": "sources.ddl",
    "set_current_snapshot": "sources.ddl",
    "iceberg_to_ducklake": "sources.ducklake",
    "expire_snapshots": "sources.maintenance",
    "remove_orphan_files": "sources.maintenance",
    "rewrite_data_files": "sources.maintenance",
    "rewrite_manifests": "sources.maintenance",
    "rewrite_position_delete_files": "sources.maintenance",
    "vacuum": "sources.maintenance",
    "iceberg_scan": "sources.scan",
    "iceberg_count": "sources.scan",
    "scan_with_runtime_filter": "sources.scan",
    "attach_catalog": "sources.sql",
    "execute_sql": "sources.sql",
    "refresh_table": "sources.sql",
    "register_table": "sources.sql",
    "compute_partition_stats": "sources.statistics",
    "compute_table_stats": "sources.statistics",
    "read_partition_stats": "sources.statistics",
    "table_ndv": "sources.statistics",
    "create_table": "sources.writer",
    "write_iceberg": "sources.writer",
}


def __getattr__(name: str):
    try:
        module = _EXPORTS[name]
    except KeyError:
        raise AttributeError(
            f"module {__name__!r} has no attribute {name!r}") from None
    value = getattr(importlib.import_module(f".{module}", __name__), name)
    globals()[name] = value
    return value


__all__ = [
    "get_spark",
    "iceberg_scan",
    "iceberg_count",
    "create_table",
    "write_iceberg",
    "register_table",
    "execute_sql",
    "refresh_table",
    "scan_with_runtime_filter",
    "attach_catalog",
    "iceberg_to_ducklake",
    # import / maintenance / snapshot management (r12 top-level surface)
    "add_files",
    "rewrite_data_files",
    "rewrite_position_delete_files",
    "rewrite_manifests",
    "expire_snapshots",
    "remove_orphan_files",
    "vacuum",
    "fast_forward",
    "rollback_to_snapshot",
    "set_current_snapshot",
    "cherrypick_snapshot",
    "compute_table_stats",
    "table_ndv",
    "compute_partition_stats",
    "read_partition_stats",
]
