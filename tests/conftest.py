import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from duckdb_iceberg_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def lfs(tmp_path):
    """A *shippable* object-store-API filesystem on shared disk: drives the
    executor side of the FileIO paths (arrow data plane, item fan-outs)
    that mock:// (driver-only) can't."""
    from pyarrow import fs as pafs

    from duckdb_iceberg_spark import io as fio

    io = fio.ArrowFileIO("lfs", pafs.LocalFileSystem(),
                         options={"kind": "localfs", "scheme": "lfs"})
    fio.register_io("lfs", io)
    return f"lfs://{tmp_path}"


def load(spark, sf_dir, name):
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
