"""Session configuration, checked without starting another JVM: the
builder options ``get_spark`` sets, the rule that places the
Python-worker socket directory, and the shared test session."""

import os
import stat
import uuid

from pyspark.sql import SparkSession

from duckdb_iceberg_spark import session


def _options(monkeypatch, **kw):
    """The options ``get_spark(**kw)`` hands the builder."""
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    return session.get_spark(**kw)


def test_python_workers_use_a_private_unix_socket_dir(monkeypatch):
    opts = _options(monkeypatch)
    assert opts["spark.python.unix.domain.socket.enabled"] == "true"
    d = opts["spark.python.unix.domain.socket.dir"]
    assert d == session._socket_dir()
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o700


def test_opt_out_and_cluster_masters_make_no_socket_dir(monkeypatch):
    def refuse():
        raise AssertionError("made a socket dir")

    monkeypatch.setattr(session, "_socket_dir", refuse)
    key = "spark.python.unix.domain.socket.enabled"
    opts = _options(monkeypatch, extra_conf={key: "false"})
    assert opts[key] == "false"
    assert "spark.python.unix.domain.socket.dir" not in opts
    # a cluster keeps Spark's loopback TCP: an executor's java.io.tmpdir
    # may be too long for a socket path
    opts = _options(monkeypatch, master="spark://head:7077")
    assert key not in opts
    assert "spark.python.unix.domain.socket.dir" not in opts


def test_socket_dir_base_keeps_socket_paths_inside_sun_path():
    """The socket directory stays within Spark's 60-character limit on
    ``spark.python.unix.domain.socket.dir`` (the tighter rule here) and
    its sockets within the 107-byte ``sun_path``."""
    def socket_dir(base):
        return os.path.join(base, session._SOCKET_DIR_PREFIX + "x" * 8)

    assert session._socket_dir_base("/tmp") == "/tmp"
    fits = "/" + "a" * (60 - len(socket_dir("/")) - 1)
    assert len(socket_dir(fits)) == 60
    assert session._socket_dir_base(fits) == fits
    assert len(socket_dir(fits + "a")) == 61
    assert session._socket_dir_base(fits + "a") == "/tmp"
    # within sun_path (a 43-46 character TMPDIR) but over Spark's limit
    for n in range(43, 47):
        tmp = "/" + "b" * (n - 1)
        sock = os.path.join(socket_dir(tmp), f".{uuid.uuid4()}.sock")
        assert len(sock) <= 107
        assert session._socket_dir_base(tmp) == "/tmp"
    # a perfbench-style TMPDIR under a checkout is already too long
    work = "/home/user/checkouts/repo/.perfbench_work/plan_large-31-12345/tmp"
    assert session._socket_dir_base(work) == "/tmp"


def test_local_session_runs_python_tasks_over_unix_sockets(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    assert conf.get("spark.python.unix.domain.socket.dir") == \
        session._socket_dir()
    assert spark.sparkContext.parallelize([1, 2], 2) \
        .map(lambda x: x + 1).collect() == [2, 3]
