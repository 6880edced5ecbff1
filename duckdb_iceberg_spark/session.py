"""SparkSession factory with the engine's load-bearing configuration.

Every consumer (tests, bench, __spark_entry__) must build sessions here so
that parquet field-id resolution (schema evolution correctness, SURVEY.md
§1.2), UTC session time, and AQE are uniformly on.

Scale posture: these settings are sized for local[32]/128GiB but the same
knobs are what a 1000-executor cluster tunes — shuffle partitions scale with
cluster cores, maxPartitionBytes controls scan task granularity, AQE handles
skew/coalesce at runtime.

.. warning:: **``spark.sql.caseSensitive=true`` is set SESSION-WIDE.**
   Iceberg column names are case-sensitive (a schema may legally hold both
   ``user_id`` and ``uSeR_Id``), and insensitive analysis would break
   parquet field-id resolution against such tables. The flip is global: it
   changes name resolution for ALL queries in the session, so user SQL that
   relied on case-insensitive matching (``SELECT ID FROM t`` against a
   column named ``id``) fails analysis here. If your workload needs
   insensitive resolution, pass ``extra_conf={"spark.sql.caseSensitive":
   "false"}`` — Iceberg reads stay correct (they resolve columns by parquet
   field-id, not by name) unless a table actually contains case-colliding
   names. See README "Session configuration".
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

#: the longest socket path ``sun_path`` holds (108 bytes with its NUL)
_SUN_PATH_MAX = 107
#: what Spark appends to the socket directory: ``/.<uuid4>.sock``
_SOCKET_NAME_LEN = len("/." + "0" * 36 + ".sock")
_SOCKET_DIR_PREFIX = "spark-py-"
#: the longest ``spark.python.unix.domain.socket.dir`` Spark 4.1 accepts
#: (it refuses 61 characters or more, and then every Python task fails)
_SPARK_SOCKET_DIR_MAX = 60
_socket_dir_path: str | None = None


def _socket_dir_base(tmp: str) -> str:
    """The directory that holds the Python-worker socket directory:
    ``tmp`` when ``mkdtemp(prefix=_SOCKET_DIR_PREFIX, dir=tmp)`` (8
    random characters) is short enough for Spark's own limit and a socket
    in it fits in ``sun_path``, else ``/tmp``. A socket directory that
    breaks either rule fails every Python task."""
    longest = os.path.join(tmp, _SOCKET_DIR_PREFIX + "x" * 8)
    if (len(longest) <= _SPARK_SOCKET_DIR_MAX
            and len(os.fsencode(longest)) + _SOCKET_NAME_LEN
            <= _SUN_PATH_MAX):
        return tmp
    return "/tmp"


def _socket_dir() -> str:
    """This process's private (mode 0700) socket directory, made on first
    use and removed at exit. Left unset, Spark binds its sockets in the
    JVM's ``java.io.tmpdir`` (``/tmp``), and a driver that exits without
    ``spark.stop()`` leaves a socket file there."""
    global _socket_dir_path
    if _socket_dir_path is None:
        _socket_dir_path = tempfile.mkdtemp(
            prefix=_SOCKET_DIR_PREFIX,
            dir=_socket_dir_base(tempfile.gettempdir()))
        atexit.register(shutil.rmtree, _socket_dir_path, ignore_errors=True)
    return _socket_dir_path


def _scratch_dir() -> str | None:
    """Shuffle/broadcast scratch (``spark.local.dir``) for local-mode
    sessions. Spark's default is ``/tmp`` — which on several container
    runtimes is a throttled or network-backed mount (measured in this
    sandbox: 6 MB/s writes on /tmp vs 446 MB/s on the home filesystem;
    guide §2.1: local disk bandwidth for shuffle files can be the tighter
    limit — check both). Every shuffle write, spill and broadcast block
    goes through this directory, so a slow scratch taxes every exchange.

    ``SPARK_GRAFT_LOCAL_DIR`` overrides (a cluster deployment points this
    at its fast local disks / NVMe, exactly like ``spark.local.dir`` in
    spark-defaults); the default is a scratch dir under the user's home —
    the conventionally container-image-backed filesystem. Falls back to
    Spark's own default when home is not writable."""
    d = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if d:
        return d
    cand = os.path.join(os.path.expanduser("~"), ".spark_scratch")
    try:
        os.makedirs(cand, exist_ok=True)
        probe = os.path.join(cand, ".probe")
        with open(probe, "w") as f:
            f.write("ok")
        os.remove(probe)
        return cand
    except OSError:
        return None


def get_spark(
    app_name: str = "duckdb-iceberg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # headless: no UI, and keep listener/retained-state small so a
        # long session (bench runs thousands of stages) doesn't slow its
        # late queries with driver-side bookkeeping
        .config("spark.ui.enabled", "false")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.sql.ui.retainedExecutions", "20")
        # field-id based parquet column resolution — correctness under
        # schema evolution (reference resolves BY_FIELD_ID,
        # iceberg_multi_file_reader.cpp:113)
        .config("spark.sql.parquet.fieldId.write.enabled", "true")
        .config("spark.sql.parquet.fieldId.read.enabled", "true")
        .config("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
        # Spark 4.1's TIME type is flag-gated: enabling it lets Iceberg
        # `time` columns surface as real TimeType (µs time-of-day, parquet
        # TIME roundtrip) instead of the tagged-Long fallback (SURVEY
        # §1.2 gap #1, lifted r10)
        .config("spark.sql.timeType.enabled", "true")
        # arrow for pandas UDFs (bucket transform, dedup/similarity ops)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # testdata events.ts is parquet TIMESTAMP(NANOS); Spark has no ns
        # timestamps — read as long (µs conversion at use sites); same lossy
        # ns→µs posture as the type mapping (SURVEY.md §1.2)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # foreign-written tables ship stale .crc sidecars; Hadoop's
        # ChecksumFileSystem would reject the (valid) parquet. Raw local FS
        # skips sidecar verification — parquet has its own page checksums.
        .config("spark.hadoop.fs.file.impl",
                "org.apache.hadoop.fs.RawLocalFileSystem")
        # Iceberg column names are case-SENSITIVE (a schema may hold both
        # user_id and uSeR_Id — case_sensitive_names fixture); insensitive
        # analysis would also break parquet field-id resolution against such
        # files by probing ambiguous names first.
        .config("spark.sql.caseSensitive", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r16 (guide §6 file listing, §7.3 driver-side work): every scan in
        # this engine hands Spark a manifest-planned LEAF-FILE list — no
        # directory recursion — so "listing" is one getFileStatus per
        # file. Spark's default threshold (32 paths) then launches a
        # full Spark JOB just to stat the files: one scheduler round-trip
        # (~0.2-0.4 s measured) to replace microsecond-class local stats.
        # Measured on a memo-miss 83-file scan construction: 0.38-0.45 s
        # -> ~0.10 s with driver-side listing. Env-parameterized because
        # the right value is deployment-dependent: on object stores a
        # remote stat is ~20-50 ms SERIAL on the driver below this
        # threshold, so s3/abfs deployments should set
        # SPARK_GRAFT_LIST_JOB_THRESHOLD back to ~32-128; on local/NVMe
        # filesystems the scheduler round-trip never pays below ~1024
        # files.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                os.environ.get("SPARK_GRAFT_LIST_JOB_THRESHOLD", "1024"))
        # r16 (guide §7.3 driver-side work): PySpark 4's DataFrame
        # debugging wraps EVERY Column/function call with a call-site
        # origin capture — an active-session probe, a JVM reflection, a
        # conf get, and origin set/clear round-trips (~7 py4j RPCs) plus
        # a Python traceback walk, PER EXPRESSION NODE. Building one
        # mid-sized query pays hundreds of these (measured: docs_bm25
        # construction 809→368 round-trips, ice_docs_curation 670→330,
        # construction wall roughly halved). The only loss is the Python
        # call-site line in analysis error messages; re-enable for
        # debugging with SPARK_GRAFT_DF_DEBUG=true. Driver-side cost at
        # any cluster size, so this is not a local-mode tune.
        .config("spark.python.sql.dataFrameDebugging.enabled",
                os.environ.get("SPARK_GRAFT_DF_DEBUG", "false"))
        # Python workers import pyspark from the installed package rather
        # than Spark's pyspark.zip: each task's importlib.invalidate_caches()
        # re-reads every cached zip's central directory (Python 3.11: about
        # 250 ms per task on a 4-vCPU VM). Falls back to Spark's path
        # unless the installed versions match the archives' (see _pydaemon).
        .config("spark.python.daemon.module", "duckdb_iceberg_spark._pydaemon")
    )
    scratch = _scratch_dir()
    if scratch:
        b = b.config("spark.local.dir", scratch)
    extra_conf = extra_conf or {}
    if master.startswith("local"):
        # the JVM talks to Python workers (and serves local collects and
        # accumulator updates) over Unix sockets instead of loopback TCP:
        # over TCP every Python task waited 36-45 ms for its first input
        # record on a 4-vCPU VM, over a Unix socket no measurable time.
        # The sockets go in this process's private directory, whose
        # socket paths always fit in sun_path. Local masters only: a
        # cluster executor's java.io.tmpdir (a YARN container dir, say)
        # can be too long for sun_path, and a failed bind fails every
        # Python task. Opt out with
        # extra_conf={"spark.python.unix.domain.socket.enabled": "false"}.
        b = b.config("spark.python.unix.domain.socket.enabled", "true")
        if (str(extra_conf.get("spark.python.unix.domain.socket.enabled",
                               "true")).lower() == "true"
                and "spark.python.unix.domain.socket.dir" not in extra_conf):
            b = b.config("spark.python.unix.domain.socket.dir", _socket_dir())
    for k, v in extra_conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
