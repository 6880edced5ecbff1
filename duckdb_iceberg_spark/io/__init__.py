"""Pluggable FileIO — every metadata-plane byte the engine reads or writes
goes through here, so tables can live on object stores (s3://, gs://,
abfss://) as well as local disk.

The reference's deployment story is REST catalog + object store with
per-table vended credentials (reference:
src/catalog/rest/storage/iceberg_table_secret_provider.cpp,
src/catalog/rest/oauth2.cpp; every benchmark/tpch/sf=1/*.benchmark runs
against a MinIO endpoint). This module is the Spark-side analogue:

- :class:`LocalFileIO` — plain filesystem, atomic temp+rename writes.
- :class:`ArrowFileIO` — wraps a ``pyarrow.fs.FileSystem`` (S3, GCS, Azure,
  or the in-memory mock used in tests). Range reads map to ranged GETs.
- A registry keyed by location prefix (vended per-table credentials from a
  REST catalog's LoadTableResult ``config``) and by scheme.

Only metadata files (JSON, Avro manifests, Puffin) flow through Python-side
IO. Data-plane parquet stays on Spark's native reader for schemes the
cluster's Hadoop connectors handle (``engine.spark-native-schemes``);
otherwise ``sources/arrow_data.py`` reads/writes parquet via pyarrow on the
executors using the same FileIO credentials.
"""

from __future__ import annotations

import os
import posixpath
import threading
from dataclasses import dataclass
from typing import Iterator, Optional

__all__ = [
    "FileEntry",
    "FileIO",
    "LocalFileIO",
    "ArrowFileIO",
    "get_io",
    "register_io",
    "register_location_io",
    "clear_location_ios",
    "parse_uri",
    "join",
    "normalize_path",
    "io_for_storage_config",
    "spark_hadoop_options",
    "storage_options_for",
]


@dataclass(frozen=True)
class FileEntry:
    path: str  # full path, scheme included when the source had one
    size: int
    mtime_ms: int


def parse_uri(path: str) -> tuple[str, str]:
    """('s3', 'bucket/key') for URIs; ('', path) for local paths.

    Windows drive letters are not treated as schemes (single-letter)."""
    i = path.find("://")
    if i > 1:
        return path[:i], path[i + 3:]
    return "", path


def normalize_path(p: str) -> str:
    """Canonical form for path-equality comparisons across the read path:
    ``file:``-scheme URIs become plain paths, ``s3a://`` (Hadoop's native
    S3 scheme) becomes ``s3://``. One rule applied to BOTH sides of every
    path join — manifest-derived literals and Spark-scan-derived columns —
    so tables whose manifests record a different-but-equivalent scheme than
    the scan still match (deletes apply, lineage resolves)."""
    import re

    p = re.sub(r"^file:/+", "/", p)
    if p.startswith("s3a://"):
        p = "s3://" + p[len("s3a://"):]
    return p


def join(base: str, *parts: str) -> str:
    """Path join that keeps ``scheme://`` URIs posix-style."""
    scheme, rest = parse_uri(base)
    if not scheme:
        return os.path.join(base, *parts)
    return f"{scheme}://" + posixpath.join(rest, *parts)


class FileIO:
    """Interface. Paths arrive fully qualified (scheme included when remote)."""

    #: a FileIO whose backing store other processes (Spark python workers)
    #: cannot see must keep reads on the driver (the in-memory mock fs)
    shippable = True

    def read_bytes(self, path: str, offset: int | None = None,
                   length: int | None = None) -> bytes:
        raise NotImplementedError

    def write_bytes(self, path: str, data: bytes) -> None:
        raise NotImplementedError

    def create_exclusive(self, path: str, data: bytes) -> None:
        """Write ``data`` to ``path`` only if nothing is there yet, else
        raise ``FileExistsError``. This default checks, then writes: it is
        NOT atomic, so two writers racing on an object store can both pass
        the check and the later PUT wins (pyarrow filesystems offer no
        conditional PUT). ``LocalFileIO`` overrides it atomically."""
        if self.exists(path):
            raise FileExistsError(path)
        self.write_bytes(path, data)

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def remove(self, path: str) -> None:
        raise NotImplementedError

    def mkdirs(self, path: str) -> None:
        raise NotImplementedError

    def list_files(self, prefix: str) -> Iterator[FileEntry]:
        """Recursively list files under a directory; empty if absent."""
        raise NotImplementedError

    def size(self, path: str) -> int:
        raise NotImplementedError

    def storage_options(self) -> dict:
        """Credentials/endpoint needed to reconstruct this IO in another
        process (executors). Empty for local."""
        return {}


class LocalFileIO(FileIO):
    """os-based IO; writes are atomic (temp file + rename) so a concurrent
    reader never observes a half-written metadata file, and an exclusive
    create (temp file + hard link) never replaces another writer's file."""

    def read_bytes(self, path, offset=None, length=None):
        with open(_strip_file_scheme(path), "rb") as fh:
            if offset is not None:
                fh.seek(offset)
                return fh.read(length) if length is not None else fh.read()
            return fh.read()

    def write_bytes(self, path, data):
        path = _strip_file_scheme(path)
        d = os.path.dirname(path)
        if d:
            os.makedirs(d, exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}-{threading.get_ident()}"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, path)

    def create_exclusive(self, path, data):
        # a hard link of a complete temp file: the name appears atomically,
        # fully written, and link() refuses a name that already exists
        path = _strip_file_scheme(path)
        tmp = f"{path}.tmp-{os.getpid()}-{threading.get_ident()}"
        try:
            with open(tmp, "wb") as fh:
                fh.write(data)
            os.link(tmp, path)
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    def exists(self, path):
        return os.path.exists(_strip_file_scheme(path))

    def remove(self, path):
        os.remove(_strip_file_scheme(path))

    def mkdirs(self, path):
        os.makedirs(_strip_file_scheme(path), exist_ok=True)

    def list_files(self, prefix):
        root = _strip_file_scheme(prefix)
        for r, _d, names in os.walk(root):
            for n in names:
                p = os.path.join(r, n)
                st = os.stat(p)
                yield FileEntry(p, st.st_size, int(st.st_mtime * 1000))

    def size(self, path):
        return os.path.getsize(_strip_file_scheme(path))


def _strip_file_scheme(path: str) -> str:
    if path.startswith("file://"):
        return path[len("file://"):]
    return path


class ArrowFileIO(FileIO):
    """FileIO over a ``pyarrow.fs.FileSystem``. The arrow filesystems take
    scheme-less paths (``bucket/key``), so the scheme is stripped on the way
    in and re-attached on the way out."""

    def __init__(self, scheme: str, fs, *, shippable: bool = True,
                 options: Optional[dict] = None):
        self.scheme = scheme
        self.fs = fs
        self.shippable = shippable
        self._options = dict(options or {})

    def _p(self, path: str) -> str:
        scheme, rest = parse_uri(path)
        return rest if scheme else path

    def _q(self, rel: str) -> str:
        return f"{self.scheme}://{rel}" if self.scheme else rel

    def read_bytes(self, path, offset=None, length=None):
        with self.fs.open_input_file(self._p(path)) as f:
            if offset is not None:
                f.seek(offset)
                return f.read(length) if length is not None else f.read()
            return f.read()

    def write_bytes(self, path, data):
        rel = self._p(path)
        parent = posixpath.dirname(rel)
        if parent:
            self.fs.create_dir(parent, recursive=True)
        with self.fs.open_output_stream(rel) as f:
            f.write(data)

    def exists(self, path):
        from pyarrow import fs as pafs

        return self.fs.get_file_info(self._p(path)).type != pafs.FileType.NotFound

    def remove(self, path):
        self.fs.delete_file(self._p(path))

    def mkdirs(self, path):
        self.fs.create_dir(self._p(path), recursive=True)

    def list_files(self, prefix):
        from pyarrow import fs as pafs

        sel = pafs.FileSelector(self._p(prefix), recursive=True,
                                allow_not_found=True)
        for info in self.fs.get_file_info(sel):
            if info.type == pafs.FileType.File:
                mtime = int(info.mtime.timestamp() * 1000) if info.mtime else 0
                yield FileEntry(self._q(info.path), info.size or 0, mtime)

    def size(self, path):
        info = self.fs.get_file_info(self._p(path))
        if info.size is None:
            raise FileNotFoundError(path)
        return info.size

    def storage_options(self):
        return dict(self._options, scheme=self.scheme)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

_LOCAL = LocalFileIO()
_SCHEME_IOS: dict[str, FileIO] = {}
_LOCATION_IOS: list[tuple[str, FileIO]] = []  # vended-credential table prefixes
_LOCK = threading.Lock()


def register_io(scheme: str, io: FileIO) -> None:
    """Install a FileIO for every path of the given scheme (tests register
    the in-memory mock here; a deployment can override the default S3 IO)."""
    with _LOCK:
        _SCHEME_IOS[scheme] = io


def register_location_io(prefix: str, io: FileIO) -> None:
    """Install a FileIO for paths under a location prefix — the vended
    per-table credential hook (REST LoadTableResult ``config``). Longest
    prefix wins; re-registering a prefix replaces it."""
    with _LOCK:
        _LOCATION_IOS[:] = [(p, i) for p, i in _LOCATION_IOS if p != prefix]
        _LOCATION_IOS.append((prefix, io))
        _LOCATION_IOS.sort(key=lambda t: -len(t[0]))


def clear_location_ios() -> None:
    with _LOCK:
        _LOCATION_IOS.clear()


def get_io(path: str) -> FileIO:
    """Resolve the FileIO for a path: vended location prefix > registered
    scheme > built-in default for the scheme (env-credentialed S3/GCS/Azure)
    > local."""
    for prefix, io in _LOCATION_IOS:
        if path.startswith(prefix):
            return io
    scheme, _ = parse_uri(path)
    if not scheme or scheme == "file":
        return _LOCAL
    io = _SCHEME_IOS.get(scheme)
    if io is not None:
        return io
    io = _default_io_for_scheme(scheme)
    register_io(scheme, io)
    return io


def _default_io_for_scheme(scheme: str) -> FileIO:
    from pyarrow import fs as pafs

    if scheme in ("s3", "s3a", "s3n"):
        return ArrowFileIO(scheme, pafs.S3FileSystem(), options={"kind": "s3"})
    if scheme in ("gs", "gcs"):
        return ArrowFileIO(scheme, pafs.GcsFileSystem(), options={"kind": "gcs"})
    if scheme in ("abfs", "abfss", "wasb", "wasbs"):
        # account comes from the URI authority at use time; arrow needs it up
        # front, so default-constructing only works with env credentials
        return ArrowFileIO(scheme, pafs.AzureFileSystem(
            os.environ.get("AZURE_STORAGE_ACCOUNT_NAME", "")),
            options={"kind": "azure"})
    raise ValueError(
        f"no FileIO registered for scheme {scheme!r}; call "
        "duckdb_iceberg_spark.io.register_io() or supply catalog credentials")


# ---------------------------------------------------------------------------
# vended credentials (REST LoadTableResult `config`)
# ---------------------------------------------------------------------------

def io_for_storage_config(location: str, config: dict) -> FileIO | None:
    """Build a FileIO from an Iceberg REST catalog's table ``config`` map and
    register it for the table location (reference:
    iceberg_table_secret_provider.cpp — CreateSecret from config keys
    s3.access-key-id / s3.secret-access-key / s3.session-token /
    s3.endpoint / s3.region / s3.path-style-access).

    Returns None (and registers nothing) when the location is local."""
    scheme, _ = parse_uri(location)
    if not scheme or scheme == "file":
        return None
    from pyarrow import fs as pafs

    if scheme in ("s3", "s3a", "s3n"):
        kwargs: dict = {}
        opts: dict = {"kind": "s3"}
        if config.get("s3.access-key-id"):
            kwargs["access_key"] = config["s3.access-key-id"]
        if config.get("s3.secret-access-key"):
            kwargs["secret_key"] = config["s3.secret-access-key"]
        if config.get("s3.session-token"):
            kwargs["session_token"] = config["s3.session-token"]
        region = config.get("s3.region") or config.get("client.region")
        if region:
            kwargs["region"] = region
        if config.get("s3.endpoint"):
            kwargs["endpoint_override"] = config["s3.endpoint"]
        if str(config.get("s3.path-style-access", "")).lower() == "true":
            kwargs["force_virtual_addressing"] = False
        opts.update(kwargs)
        io = ArrowFileIO(scheme, pafs.S3FileSystem(**kwargs), options=opts)
    elif scheme in ("gs", "gcs"):
        io = ArrowFileIO(scheme, pafs.GcsFileSystem(), options={"kind": "gcs"})
    else:
        return None
    register_location_io(location, io)
    return io


def storage_options_for(path: str) -> dict:
    """Serializable reconstruction recipe for executors (arrow data plane)."""
    return get_io(path).storage_options()


def io_from_storage_options(opts: dict) -> FileIO:
    """Executor-side: rebuild the FileIO from :meth:`FileIO.storage_options`."""
    if not opts:
        return _LOCAL
    from pyarrow import fs as pafs

    kind = opts.get("kind")
    scheme = opts.get("scheme", "s3")
    if kind == "s3":
        kwargs = {k: v for k, v in opts.items()
                  if k in ("access_key", "secret_key", "session_token",
                           "region", "endpoint_override",
                           "force_virtual_addressing")}
        return ArrowFileIO(scheme, pafs.S3FileSystem(**kwargs), options=opts)
    if kind == "gcs":
        return ArrowFileIO(scheme, pafs.GcsFileSystem(), options=opts)
    if kind == "localfs":
        # arrow LocalFileSystem under a scheme — exercised by tests to drive
        # the distributed (executor-side) arrow data plane on shared disk
        return ArrowFileIO(scheme, pafs.LocalFileSystem(), options=opts)
    return _LOCAL


def spark_hadoop_options(location: str, config: dict) -> dict[str, str]:
    """Map vended table credentials to per-bucket Hadoop/S3A configuration for
    clusters whose Spark reads the data plane natively (hadoop-aws on the
    classpath). Bucket-scoped keys (``fs.s3a.bucket.<b>.*``) so two tables
    with different credentials coexist in one session."""
    scheme, rest = parse_uri(location)
    if scheme not in ("s3", "s3a", "s3n"):
        return {}
    bucket = rest.split("/", 1)[0]
    p = f"fs.s3a.bucket.{bucket}."
    out: dict[str, str] = {}
    if config.get("s3.access-key-id"):
        out[p + "access.key"] = config["s3.access-key-id"]
    if config.get("s3.secret-access-key"):
        out[p + "secret.key"] = config["s3.secret-access-key"]
    if config.get("s3.session-token"):
        out[p + "session.token"] = config["s3.session-token"]
        out[p + "aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider")
    if config.get("s3.endpoint"):
        out[p + "endpoint"] = config["s3.endpoint"]
    if str(config.get("s3.path-style-access", "")).lower() == "true":
        out[p + "path.style.access"] = "true"
    region = config.get("s3.region") or config.get("client.region")
    if region:
        out[p + "endpoint.region"] = region
    return out
